"""HTML → text extraction with boilerplate stripping — the stage between
WARC ingest (``sources/warc.py``) and the chunk/dedup/quality pipeline.

The reference parses no HTML (its TextParser.cs handles .txt/.md/.csv);
this is a training-data extension: every web corpus (C4 §2.2, RefinedWeb
§3.2) starts with "drop the markup and the chrome, keep the prose".
Libraries like trafilatura aren't in the container, so the extractor is
a stdlib ``html.parser`` state machine with deterministic, documented
semantics — the contract the oracle pins:

- content inside ``script/style/noscript/template/svg/iframe`` never
  reaches the output (nor does anything inside ``head`` except
  ``<title>``, captured separately);
- with ``boilerplate=True`` the chrome containers
  (``nav/header/footer/aside/form``) drop too (the C4 move);
- block-level boundaries (``p/div/li/h1..h6/tr/section/article/
  blockquote/pre/br/table/ul/ol``) split the output into lines;
- within a block, ASCII whitespace runs (``[ \\t\\n\\r\\f\\x0b]``,
  matching the oracle's RE2 class exactly — Python's ``\\s`` also eats
  NBSP/Unicode spaces, which RE2 does not) collapse to single spaces
  and entities are decoded; blocks that collapse to '' vanish;
- EXCEPT ``<pre>``: its content is kept verbatim (newlines, runs of
  spaces — the C4 convention that code blocks survive extraction);
  an all-whitespace pre vanishes like any empty block;
- lines join with '\\n'.

Pure function per document → Arrow-batched ``mapInPandas``: no shuffle,
scales with executors, and the same per-row independence the other
decoders (binary_decode.py) rely on.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DROP_TAGS = frozenset({"script", "style", "noscript", "template", "svg", "iframe"})
_CHROME_TAGS = frozenset({"nav", "header", "footer", "aside", "form"})
_BLOCK_TAGS = frozenset({
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "br",
    "table", "ul", "ol", "section", "article", "blockquote", "pre",
    "main", "figure", "figcaption", "dd", "dt", "hr",
})
_VOID_TAGS = frozenset({"br", "hr", "img", "input", "meta", "link"})
# elements legal inside <head>; anything else implicitly closes it
# (</head> is optional in HTML5 — real crawl pages omit it constantly,
# and head state must not swallow the body)
_HEAD_TAGS = frozenset({
    "head", "title", "meta", "link", "style", "script", "base", "noscript", "template",
})
_WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")
_ASCII_WS = " \t\n\r\f\x0b"


class _Extractor(HTMLParser):
    def __init__(self, boilerplate: bool):
        super().__init__(convert_charrefs=True)
        self._drop = _DROP_TAGS | (_CHROME_TAGS if boilerplate else frozenset())
        self._drop_depth = 0
        self._in_head = 0
        self._in_title = False
        self._in_pre = 0
        self.title_parts: list[str] = []
        self._block: list[str] = []
        self.lines: list[str] = []
        self.meta: dict[str, str] = {}  # canonical/robots/description/og:*
        # density accounting (extract_main_text): raw char counts per
        # emitted line, split into inside-<a> vs total — additive state,
        # never consulted by the plain extraction path
        self._anchor_depth = 0
        self._block_chars = 0
        self._block_anchor_chars = 0
        self.line_density: list[tuple[int, int]] = []  # (anchor_chars, chars)

    _META_NAMES = frozenset({"robots", "description", "og:title", "og:description"})

    def _collect_meta(self, tag, attrs):
        a: dict[str, str] = {}
        for k, v in attrs:  # HTML keeps the FIRST duplicate attribute
            a.setdefault(k, v or "")
        if tag == "link":
            # rel is a space-separated token list ("canonical alternate")
            rel_tokens = (a.get("rel") or "").lower().split()
            href = (a.get("href") or "").strip()
            if "canonical" in rel_tokens and href:
                self.meta.setdefault("canonical", href)
        elif tag == "meta":
            name = (a.get("name") or a.get("property") or "").lower()
            if name in self._META_NAMES and a.get("content") is not None:
                if name == "robots" and "robots" in self.meta:
                    # directives UNION across tags (most restrictive wins
                    # downstream) — crawlers combine, not first-wins
                    self.meta["robots"] += "," + a["content"].strip()
                else:
                    self.meta.setdefault(name, a["content"].strip())

    def _flush(self) -> None:
        # edge-trimming uses the same ASCII class as the collapse — bare
        # str.strip() would eat NBSP/Unicode spaces the oracle keeps
        if self._in_pre:
            line = "".join(self._block)  # verbatim
            if not line.strip(_ASCII_WS):
                line = ""
        else:
            line = _WS_RE.sub(" ", "".join(self._block)).strip(_ASCII_WS)
        counts = (self._block_anchor_chars, self._block_chars)
        self._block = []
        self._block_chars = self._block_anchor_chars = 0
        # a block boundary implicitly closes an open anchor for density
        # purposes — an <a> spanning blocks is almost always tag soup,
        # and letting it ride would score whole articles as link text
        self._anchor_depth = 0
        if line:
            self.lines.append(line)
            self.line_density.append(counts)

    def handle_starttag(self, tag, attrs):
        if tag in self._drop and tag not in _VOID_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return  # e.g. <title> inside a dropped <svg> is not THE title
        if tag in ("meta", "link"):
            self._collect_meta(tag, attrs)
        elif tag == "html" and "lang" not in self.meta:
            for k, v in attrs:
                if k == "lang" and v and v.strip():
                    self.meta["lang"] = v.strip()
                    break
        if tag == "a":
            # implicit close of any open anchor (nested <a> is illegal;
            # real-web anchors are routinely never closed — without this,
            # one unclosed <a> taints every later block's density)
            self._anchor_depth = 1
        if self._in_head and tag not in _HEAD_TAGS:
            self._in_head = 0  # implicit </head> (flow content begins)
        if tag == "head":
            self._in_head += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "pre":
            self._flush()
            self._in_pre += 1
        elif tag in _BLOCK_TAGS and not self._in_pre:
            self._flush()

    def handle_endtag(self, tag):
        if tag in self._drop and tag not in _VOID_TAGS:
            # tolerate stray close tags (real-web HTML is never balanced)
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._anchor_depth = 0
        if tag == "head":
            self._in_head = max(0, self._in_head - 1)
        elif tag == "title":
            self._in_title = False
        elif tag == "pre":
            self._flush()
            self._in_pre = max(0, self._in_pre - 1)
        elif tag in _BLOCK_TAGS and not self._in_pre:
            self._flush()

    def handle_data(self, data):
        if self._drop_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        # HTML5: non-whitespace character data also implicitly closes head
        if self._in_head and data.strip(_ASCII_WS):
            self._in_head = 0
        if not self._in_head:
            self._block.append(data)
            n = len(data.strip(_ASCII_WS))
            self._block_chars += n
            if self._anchor_depth > 0:
                self._block_anchor_chars += n


def _parse_html(html: str, boilerplate: bool) -> "tuple[_Extractor, str | None]":
    """Shared parse scaffold: run the extractor to completion and derive
    the normalized title — ONE definition for every public extraction
    entry point (plain, full, main-text) so flush ordering and title
    normalization can't drift between them."""
    p = _Extractor(boilerplate)
    p.feed(html or "")
    p.close()
    p._flush()
    title = _WS_RE.sub(" ", "".join(p.title_parts)).strip(_ASCII_WS) or None
    return p, title


def extract_html_full(
    html: str, boilerplate: bool = True
) -> tuple[str | None, str, dict[str, str]]:
    """(title, text, meta) — meta carries the curation signals real
    pipelines act on: ``canonical`` (link rel=canonical href — the dedup
    key search engines honor; first non-blank wins), ``robots`` (meta
    robots directives UNIONED across tags — crawlers combine them, so a
    later noindex still bites; see :func:`meta_noindex`), ``description``
    and ``og:title``/``og:description`` (first wins). Never raises on
    malformed markup."""
    p, title = _parse_html(html, boilerplate)
    return title, "\n".join(p.lines), p.meta


def extract_html(html: str, boilerplate: bool = True) -> tuple[str | None, str]:
    """(title, text) per the module-docstring contract. Never raises on
    malformed markup — html.parser is a recovering tokenizer, and a page
    that is all chrome extracts to ('title-or-None', '')."""
    title, text, _ = extract_html_full(html, boilerplate)
    return title, text


def meta_noindex(meta: dict[str, str]) -> bool:
    """True when meta robots carries a noindex/none directive — pages a
    curation pipeline must drop (the site owner opted out of indexing)."""
    directives = {d.strip().lower() for d in (meta.get("robots") or "").split(",")}
    return bool(directives & {"noindex", "none"})


HTML_TEXT_SCHEMA = "title string, text string"


def _column_form(df, html_col, keep_cols, schema_suffix, out_names, row_fn):
    """Shared mapInPandas scaffold for the extractor column forms:
    (keep_cols..., out_names...) where ``row_fn(html) -> tuple`` computes
    one output row's values. keep_cols defaults to every non-html column
    — pass an explicit subset on wide frames so the Arrow transfer only
    carries what survives (column pruning through a mapInPandas boundary
    is manual)."""
    keep = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != html_col
    ]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keep
    )
    schema = (schema + ", " if schema else "") + schema_suffix

    def _extract(batches):
        for pdf in batches:
            cols = [[] for _ in out_names]
            for h in pdf[html_col]:
                for col, val in zip(cols, row_fn(h if isinstance(h, str) else "")):
                    col.append(val)
            out = pdf[keep].copy()
            for name, col in zip(out_names, cols):
                out[name] = col
            yield out

    return df.select(*keep, html_col).mapInPandas(_extract, schema)


def extract_html_text(
    df: DataFrame,
    html_col: str = "text",
    boilerplate: bool = True,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Column form: (keep_cols..., title, text)."""
    return _column_form(
        df, html_col, keep_cols, HTML_TEXT_SCHEMA, ["title", "text"],
        lambda h: extract_html(h, boilerplate),
    )


def escape_html_expr(text):
    """Minimal HTML escaping (&, <, >) as JVM column math — used by the
    round-trip oracle to build markup from corpus text inside the plan."""
    return F.replace(
        F.replace(
            F.replace(text, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )


HTML_META_SCHEMA = (
    "title string, text string, canonical string, noindex boolean, "
    "description string, lang string"
)


def extract_html_meta(
    df: DataFrame,
    html_col: str = "text",
    boilerplate: bool = True,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Column form of extract_html_full: (keep_cols..., title, text,
    canonical, noindex, description)."""

    def _row(h):
        t, x, m = extract_html_full(h, boilerplate)
        return (t, x, m.get("canonical"), meta_noindex(m),
                m.get("description"), m.get("lang"))

    return _column_form(
        df, html_col, keep_cols, HTML_META_SCHEMA,
        ["title", "text", "canonical", "noindex", "description", "lang"], _row,
    )


def fixture_adversarial_pages() -> list[tuple[str, bytes, str]]:
    """(case, raw_bytes, http_content_type) rows for the real-web failure
    modes the template fixtures can't produce (VERDICT r6 ask #4): a
    mislabeled charset (latin-1 bytes under a utf-8 header), unclosed
    <b>/<td> tag soup, numeric-entity edge cases (NUL, a surrogate, one
    past U+10FFFF — all must become U+FFFD, WHATWG §13.2.5.80),
    commented-out markup inside <script> (must stay invisible), and a
    UTF-8 BOM conflicting with a declared <meta charset> (BOM wins).
    Deterministic bytes → pinned oracle literals, the parse_warc
    discipline; consumed by __spark_entry__.q_html_adversarial through
    the REAL warc → decode → extract pipeline."""
    return [
        (
            "bom-meta-conflict",
                        b"\xef\xbb\xbf"  # explicit UTF-8 BOM (don't trust editors)
            + ('<meta charset="iso-8859-1">'
               '<link rel="canonical" href="https://e/x"><p>café</p>').encode("utf-8"),
            "text/html",
        ),
        (
            "mislabeled-charset",
            ('<html lang="es"><meta name="robots" content="noindex">'
             "<p>olé café</p>").encode("latin-1"),
            "text/html; charset=utf-8",
        ),
        (
            "tag-soup",
            b'<b>bold <td>cell <meta name="description" content="d \xc3\xa9sc"> <p>para',
            "text/html",
        ),
        (
            "entity-edges",
            b"<title>E&#x0;T</title><p>a&#x0;b &#xD800; &#1114112; &amp;ok</p>",
            "text/html",
        ),
        (
            "script-comment",
            b"<title>T</title><script><!-- var x='<p>fake</p>'; --></script>"
            b"<p>real &lt;tag&gt;</p>",
            "text/html",
        ),
    ]


def extract_main_text(
    html: str,
    max_link_density: float = 1 / 3,
    long_block_chars: int = 80,
    long_block_density: float = 2 / 3,
) -> tuple[str | None, str]:
    """Main-content extraction by link density (the boilerpipe/Arc90
    family, Kohlschütter et al. WSDM'10) — the tier ABOVE the tag-name
    chrome strip: real pages put "related articles" lists, tag clouds,
    and pagination in plain <div>s no tag heuristic can name. Per block
    (the extractor's line unit), with density = anchor-chars / chars
    counted on the RAW text before whitespace collapse:

    - keep when density < ``max_link_density`` (prose links a little),
    - keep long blocks (≥ ``long_block_chars``) up to
      ``long_block_density`` (link-heavy but substantial paragraphs),
    - drop the rest (short + link-dominated = navigation).

    Deterministic pure function — same contract as extract_html, so the
    oracle can pin it; runs on TOP of the tag-level chrome strip."""
    p, title = _parse_html(html, boilerplate=True)
    kept = []
    for line, (a_chars, chars) in zip(p.lines, p.line_density):
        density = (a_chars / chars) if chars else 0.0
        if density < max_link_density or (
            chars >= long_block_chars and density < long_block_density
        ):
            kept.append(line)
    return title, "\n".join(kept)


MAIN_TEXT_SCHEMA = HTML_TEXT_SCHEMA  # same (title, text) surface


def extract_main_text_df(
    df: DataFrame,
    html_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Column form of extract_main_text: (keep_cols..., title, text)."""
    return _column_form(
        df, html_col, keep_cols, MAIN_TEXT_SCHEMA, ["title", "text"],
        lambda h: extract_main_text(h),
    )
