"""Text-analysis operators for LLM data pipelines (north-star extras):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. Generalizes the reference's text utilities T1-T3
(TiktokenTokenCounter.cs:10-30, IngestionPipeline.cs:502-517) into
corpus-level, fully-columnar analyses.

All map-side (no shuffle): at 100 TB these run at parquet scan speed inside
whole-stage codegen. Each has a DuckDB mirror for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connapse_spark.functions.text import (
    spark_sql_tokens_exact,
    sql_tokens_exact,
    tokens_exact_expr,
)
from connapse_spark.functions.vector import spark_sql_literal, spark_sql_values
from connapse_spark.operators.dedup import HASH_MOD, _sha_bigint, sql_sha_bigint

# Small English function-word list for the n-gram/stopword language heuristic.
EN_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "or", "that", "the", "to",
    "was", "were", "will", "with",
]

# BPE-ish pretokenizer: letter runs, digit runs, single non-space symbols
# (whitespace-insensitive approximation of a GPT-style pretokenizer split).
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def token_count_ws_expr(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(text, "\\s+"), lambda t: F.length(t) > 0))


def token_count_bpeish_expr(text: Column) -> Column:
    """BPE-ish regex token count — the deterministic proxy for T1's tiktoken
    count (the real cl100k counter is a pandas UDF behind an import guard in
    operators/chunking.py)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(0)))


def quality_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality signals: token counts, stopword ratio, mean word
    length, alpha ratio, and a composite [0,1] quality score (heuristic
    combination of length, stopword presence, and word-length sanity —
    standard pretraining-corpus filters)."""
    text = F.col(text_col)
    # materialize the token array as a real column (r11) — see the note
    # in gopher_filter; the stats below reference it repeatedly
    docs = docs.withColumn("_toks_once", tokens_exact_expr(text))
    toks = F.col("_toks_once")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    total_tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, v: a + v
    )
    n_ws = token_count_ws_expr(text)
    n_bpe = token_count_bpeish_expr(text)
    # materialize the counts ONCE, then derive the ratios and the score
    # from the materialized columns (r11): n_stop (interpreted filter) and
    # total_tok_chars (interpreted fold) were referenced by both their
    # ratio column and the quality score — each reference re-ran the
    # O(tokens) pass
    counts = docs.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_stop.alias("_n_stop"),
        total_tok_chars.alias("_tok_chars"),
    )
    nn = F.col("n_tokens")
    stop_ratio = F.when(nn > 0, F.col("_n_stop") / nn).otherwise(F.lit(0.0))
    mean_wlen = F.when(nn > 0, F.col("_tok_chars") / nn).otherwise(F.lit(0.0))
    len_ok = F.when((nn >= 10) & (nn <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stop_ratio >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    quality = (len_ok + wlen_ok + stop_ok) / F.lit(3.0)
    return counts.select(
        F.col(id_col),
        nn,
        F.col("n_ws_tokens"),
        F.col("n_bpe_tokens"),
        stop_ratio.alias("stopword_ratio"),
        mean_wlen.alias("mean_word_len"),
        quality.alias("quality_score"),
    )


def sql_quality_stats(id_col: str = "doc_id", text_col: str = "text") -> str:
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
SELECT {id_col}, n_tokens, n_ws_tokens, n_bpe_tokens,
       CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stopword_ratio,
       CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END AS mean_word_len,
       (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END
        + CASE WHEN (CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END) >= 2.0
               AND (CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END) <= 12.0 THEN 1.0 ELSE 0.0 END
        + CASE WHEN (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) >= 0.01 THEN 1.0 ELSE 0.0 END) / 3.0 AS quality_score
FROM (
  SELECT {id_col},
         len(toks) AS n_tokens,
         len(list_filter(string_split_regex({text_col}, '\\s+'), t -> len(t) > 0)) AS n_ws_tokens,
         len(regexp_extract_all({text_col}, '{BPE_RE}')) AS n_bpe_tokens,
         len(list_filter(toks, t -> t IN ({stop_list}))) AS n_stop,
         list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, v) -> a + v) AS tok_chars
  FROM (SELECT {id_col}, {text_col}, {sql_tokens_exact(text_col)} AS toks FROM documents)
)
""".strip()


def language_id(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Stopword-fraction language heuristic: classify 'en' when ≥ 2% of
    tokens are English function words (threshold suits the synthetic corpus;
    real deployments extend EN_STOPWORDS per language and argmax).
    ``tokens_col`` as in :func:`gopher_filter` (r12 pass fusion)."""
    if tokens_col is None:
        # materialize the token array as a real column (r11): the stats
        # reference it many times, and HOF-containing subtrees are not
        # fused by codegen subexpression elimination — each reference
        # re-ran the tokenizer (measured 1.67x on the sf0.1 gopher pass)
        docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
        toks = F.col("_toks_once")
    else:
        toks = F.col(tokens_col)
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    frac = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
    # materialize the fraction ONCE (r11): the pred referenced it a second
    # time, and the interpreted filter() inside re-ran per reference
    stats = docs.select(F.col(id_col), frac.alias("en_stopword_frac"))
    fc = F.col("en_stopword_frac")
    return stats.select(
        F.col(id_col),
        fc,
        F.when(fc >= 0.02, "en").otherwise("unknown").alias("lang_pred"),
    )


def sql_language_id(id_col: str = "doc_id", text_col: str = "text") -> str:
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
SELECT {id_col},
       CASE WHEN n > 0 THEN n_stop / n ELSE 0.0 END AS en_stopword_frac,
       CASE WHEN (CASE WHEN n > 0 THEN n_stop / n ELSE 0.0 END) >= 0.02 THEN 'en' ELSE 'unknown' END AS lang_pred
FROM (
  SELECT {id_col}, len(toks) AS n,
         len(list_filter(toks, t -> t IN ({stop_list}))) AS n_stop
  FROM (SELECT {id_col}, {sql_tokens_exact(text_col)} AS toks FROM documents)
)
""".strip()


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """T3-style document fingerprint: polynomial rolling hash over the token
    stream, ``h = (h·31 + sha_int(tok)) mod (2^31−1)`` — order-sensitive
    (unlike the shingle sets), so re-ordered documents fingerprint
    differently. Left fold → deterministic."""
    toks = tokens_exact_expr(F.col(text_col))
    th = F.transform(toks, lambda t: _sha_bigint(t))
    h = F.aggregate(
        th,
        F.lit(0).cast("bigint"),
        lambda acc, v: (acc * 31 + v) % HASH_MOD,
    )
    return docs.select(F.col(id_col), h.alias("fingerprint"))


def sql_fingerprint(id_col: str = "doc_id", text_col: str = "text") -> str:
    th = f"list_transform({sql_tokens_exact(text_col)}, t -> {sql_sha_bigint('t')})"
    return f"""
SELECT {id_col},
       list_reduce(list_prepend(0::BIGINT, {th}),
                   (acc, v) -> (acc * 31 + v) % {HASH_MOD}) AS fingerprint
FROM documents
""".strip()


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-rule repetition signals)
# ---------------------------------------------------------------------------


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition signals per document — the Gopher-family filters that
    quality_stats' length/stopword heuristics don't see: the fraction of
    the document owned by its single most frequent token and by its most
    frequent bigram (repetitive boilerplate scores high on both).

    Plan: one explode of (token, next-token) pairs, two codegen'd
    count-aggregations (by token and by bigram) reduced to per-doc
    max/total, joined on doc id — partial aggregation combines map-side,
    so the shuffles carry one row per DISTINCT term per doc, not per
    occurrence."""
    # materialize the token array as a real column (r11): the stats
    # reference it many times, and HOF-containing subtrees are not fused
    # by codegen subexpression elimination — each reference re-ran the
    # tokenizer (measured 1.67x on the sf0.1 gopher pass)
    docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
    toks = F.col("_toks_once")
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    # posexplode_outer + isnotnull ≡ posexplode, but dodges
    # InferFiltersFromGenerate: a plain posexplode's inferred size()>0
    # filter pushes through the projection and re-runs the tokenizer and
    # the zip per row (r11; the isnotnull sits on the GENERATED attribute,
    # which cannot push below the Generate)
    z = docs.select(
        F.col(id_col),
        F.posexplode_outer(
            F.arrays_zip(toks.alias("t"), shifted.alias("t2"))
        ).alias("_i", "p"),
    ).filter(F.col("p").isNotNull()).select(
        F.col(id_col),
        F.col("p.t").alias("t"),
        F.when(F.col("p.t2").isNotNull(), F.concat("p.t", F.lit(" "), "p.t2")).alias("bg"),
    )
    tok_counts = z.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    tok_agg = tok_counts.groupBy(id_col).agg(
        F.max("c").alias("_max_tok"), F.sum("c").alias("_n_tok")
    )
    bg_counts = (
        z.filter(F.col("bg").isNotNull())
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg_agg = bg_counts.groupBy(id_col).agg(
        F.max("c").alias("_max_bg"), F.sum("c").alias("_n_bg")
    )
    out = tok_agg.join(bg_agg, id_col, "left")
    return out.select(
        F.col(id_col),
        (F.col("_max_tok") / F.col("_n_tok")).alias("top_token_ratio"),
        F.coalesce(F.col("_max_bg") / F.col("_n_bg"), F.lit(0.0)).alias(
            "top_bigram_ratio"
        ),
    ).orderBy(id_col)


def sql_repetition_stats(id_col: str = "doc_id", text_col: str = "text") -> str:
    toks = sql_tokens_exact(text_col)
    return f"""
WITH z AS MATERIALIZED (
  SELECT {id_col}, t,
         CASE WHEN t2 IS NOT NULL THEN t || ' ' || t2 END AS bg
  FROM (
    SELECT {id_col}, unnest(ts) AS t,
           unnest(list_append(ts[2:], NULL)) AS t2
    FROM (SELECT {id_col}, {toks} AS ts FROM documents)
  )
),
tok_agg AS (
  SELECT {id_col}, max(c) AS max_tok, CAST(sum(c) AS BIGINT) AS n_tok
  FROM (SELECT {id_col}, t, count(*) AS c FROM z GROUP BY 1, 2) GROUP BY 1
),
bg_agg AS (
  SELECT {id_col}, max(c) AS max_bg, CAST(sum(c) AS BIGINT) AS n_bg
  FROM (SELECT {id_col}, bg, count(*) AS c FROM z WHERE bg IS NOT NULL GROUP BY 1, 2) GROUP BY 1
)
SELECT t.{id_col},
       t.max_tok / t.n_tok AS top_token_ratio,
       coalesce(b.max_bg / b.n_bg, 0.0) AS top_bigram_ratio
FROM tok_agg t LEFT JOIN bg_agg b ON t.{id_col} = b.{id_col}
ORDER BY t.{id_col}
""".strip()


# ---------------------------------------------------------------------------
# PII redaction (map-side regex scrub)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (DuckDB) interpret
# identically: no backreferences, no lookaround, ASCII \b.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}", "<PHONE>"),
]


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub emails / IPv4 addresses / international phone numbers to typed
    placeholder tokens, with per-kind match counts — the pre-training
    hygiene pass. Pure regexp_replace/regexp_count chain: map-side,
    codegen'd, no shuffle; patterns are pinned to the Java∩RE2 dialect so
    the DuckDB oracle applies the same automaton."""
    out = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}"))
        out = F.regexp_replace(out, pat, token)
    return docs.select(F.col(id_col), out.alias("redacted"), *counts)


def sql_redact_pii(id_col: str = "doc_id", text_col: str = "text", table: str = "documents") -> str:
    out = text_col
    counts = []
    for name, pat, token in PII_PATTERNS:
        # DuckDB single-quoted strings pass backslashes through verbatim
        counts.append(f"len(regexp_extract_all({text_col}, '{pat}')) AS n_{name}")
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    cols = ",\n       ".join(counts)
    return f"""
SELECT {id_col}, {out} AS redacted,
       {cols}
FROM {table}
""".strip()


# ---------------------------------------------------------------------------
# Multi-language ID (per-language stopword scoring + argmax)
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, list[str]] = {
    "en": EN_STOPWORDS,
    "de": [
        "der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
        "auf", "den", "von", "des", "im", "zu", "sich", "auch", "als",
        "für", "über",
    ],
    "fr": [
        "le", "la", "les", "et", "est", "un", "une", "des", "du", "dans",
        "pas", "pour", "que", "qui", "sur", "avec", "au", "ne",
        "être", "où", "déjà", "après",
    ],
    "es": [
        "el", "la", "los", "las", "y", "es", "un", "una", "del", "en",
        "no", "por", "para", "que", "con", "se", "su", "al",
    ],
    # r7 expansion (VERDICT r6 ask #5): a 100 TB web corpus is majority
    # non-English. r8: TOKEN_SPLIT_RE is now Unicode ([^\p{L}\p{N}]+), so
    # accented function words tokenize whole — de/fr regain the accented
    # entries that were dead under the old ASCII split ('für', 'être').
    "it": [
        "il", "di", "che", "per", "non", "sono", "come", "anche", "della",
        "nel", "alla", "gli", "dei", "questo", "ma", "piu",
    ],
    "pt": [
        "de", "que", "em", "para", "com", "uma", "os", "dos", "das",
        "mais", "como", "mas", "foi", "ele", "sua", "ou", "quando", "muito",
    ],
    "nl": [
        "de", "het", "een", "van", "dat", "niet", "op", "voor", "met",
        "zijn", "aan", "ook", "naar", "bij", "uit", "maar", "wordt",
    ],
}
LANG_MIN_FRAC = 0.02

# Script-class detection for languages a stopword list can't see: CJK
# has no spaces to tokenize on (the tokenizer's bigram tier gives them
# tokens, but no stopword list); Cyrillic/Arabic could carry word lists
# now that TOKEN_SPLIT_RE is Unicode, but the script fraction is the
# cheaper, more robust discriminator for whole-script languages.
# Character-range fractions over non-whitespace chars are
# pure column math (regexp_count), identical in Java regex and RE2, so
# the oracle stays SQL-expressible. BMP ranges only (both engines count
# code points; supplementary-plane ranges risk UTF-16 disagreement).
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("han", "一-鿿"),          # CJK Unified Ideographs
    ("kana", "぀-ヿ"),         # Hiragana + Katakana
    ("hangul", "가-힣"),       # Hangul syllables
    ("cyrillic", "Ѐ-ӿ"),
    ("arabic", "؀-ۿ"),
]
# decision order: kana present → ja (Japanese mixes kana with Han, so
# kana is the discriminator and its threshold is low); then the
# dominant-script rules; stopword argmax only when no script dominates
SCRIPT_RULES: list[tuple[str, float, str]] = [
    ("kana", 0.05, "ja"),
    ("hangul", 0.30, "ko"),
    ("han", 0.30, "zh"),
    ("arabic", 0.30, "ar"),
    ("cyrillic", 0.30, "ru"),
]
_NONWS_CLASS = "[ \\t\\n\\r\\f\\x0b]+"  # the shared ASCII ws class (RE2 ∩ Java)


def language_id_multi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Multi-language ID, two tiers sharing one map-side pass:

    1. Script-class fractions (SCRIPT_RANGES — Han / kana / Hangul /
       Cyrillic / Arabic chars over non-whitespace chars) decide the
       whole-script languages (CJK word boundaries don't exist for a
       stopword list; the script fraction needs no list at all), in
       SCRIPT_RULES order — kana→ja first since Japanese mixes kana
       with Han.
    2. Otherwise the stopword containment fraction per Latin-script
       language, classification = argmax (ties broken by language-code
       order), 'unknown' when the best fraction is under LANG_MIN_FRAC.

    One token array + one regexp_count per script — all codegen'd column
    math, no shuffle. A real deployment swaps the word lists for
    fastText/cld3 behind the same (id, fracs, lang_pred) shape; the
    scoring and argmax plumbing is what this operator pins down."""
    # materialize the token array as a real column (r11): the stats
    # reference it many times, and HOF-containing subtrees are not fused
    # by codegen subexpression elimination — each reference re-ran the
    # tokenizer (measured 1.67x on the sf0.1 gopher pass)
    docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
    toks = F.col("_toks_once")
    n = F.size(toks)
    langs = sorted(LANG_STOPWORDS)
    frac_exprs = {
        lang: F.when(
            n > 0,
            F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang]))) / n,
        ).otherwise(F.lit(0.0))
        for lang in langs
    }
    nonws = F.length(F.regexp_replace(F.col(text_col), _NONWS_CLASS, ""))
    script_exprs = {
        name: F.when(
            nonws > 0,
            F.regexp_count(F.col(text_col), F.lit(f"[{rng}]")) / nonws,
        ).otherwise(F.lit(0.0))
        for name, rng in SCRIPT_RANGES
    }
    # materialize each fraction ONCE before the argmax (r11): the pred
    # chain references every frac repeatedly (greatest() re-expands per
    # CASE level), and the per-language filter() is interpreted, so each
    # plan occurrence re-ran its token pass — 228 filter( occurrences in
    # the before-plan vs 7 after. The projection boundary survives
    # CollapseProject because the fracs are non-cheap and multi-referenced.
    stats = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[frac_exprs[lang].alias(f"frac_{lang}") for lang in langs],
        *[script_exprs[name].alias(f"frac_sc_{name}") for name, _ in SCRIPT_RANGES],
    )
    fracs = {lang: F.col(f"frac_{lang}") for lang in langs}
    script_fracs = {name: F.col(f"frac_sc_{name}") for name, _ in SCRIPT_RANGES}
    best = F.greatest(*[fracs[lang] for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):  # earlier language wins ties
        pred = F.when(
            (best >= LANG_MIN_FRAC) & (fracs[lang] == best), F.lit(lang)
        ).otherwise(pred)
    for name, thresh, code in reversed(SCRIPT_RULES):  # first rule wins
        pred = F.when(script_fracs[name] >= thresh, F.lit(code)).otherwise(pred)
    return stats.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[F.col(f"frac_{lang}") for lang in langs],
        *[F.col(f"frac_sc_{name}") for name, _ in SCRIPT_RANGES],
        pred.alias("lang_pred"),
    ).orderBy(id_col)


def sql_language_id_multi(
    id_col: str = "doc_id", text_col: str = "text", table: str = "documents"
) -> str:
    langs = sorted(LANG_STOPWORDS)
    toks = sql_tokens_exact(text_col)

    def frac(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        return (
            f"CASE WHEN len(toks) > 0 THEN "
            f"len(list_filter(toks, t -> t IN ({words}))) / len(toks) ELSE 0.0 END"
        )

    def sfrac(rng: str) -> str:
        return (
            f"CASE WHEN nonws > 0 THEN "
            f"len(regexp_extract_all(txt, '[{rng}]')) / nonws ELSE 0.0 END"
        )

    frac_cols = ",\n         ".join(f"{frac(lang)} AS frac_{lang}" for lang in langs)
    sfrac_cols = ",\n         ".join(
        f"{sfrac(rng)} AS frac_sc_{name}" for name, rng in SCRIPT_RANGES
    )
    best = "greatest(" + ", ".join(f"frac_{lang}" for lang in langs) + ")"
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = (
            f"CASE WHEN {best} >= {LANG_MIN_FRAC} AND frac_{lang} = {best} "
            f"THEN '{lang}' ELSE {pred} END"
        )
    for name, thresh, code in reversed(SCRIPT_RULES):
        pred = f"CASE WHEN frac_sc_{name} >= {thresh} THEN '{code}' ELSE {pred} END"
    cols = ", ".join(
        [f"frac_{lang}" for lang in langs]
        + [f"frac_sc_{name}" for name, _ in SCRIPT_RANGES]
    )
    return f"""
SELECT {id_col}, {cols}, {pred} AS lang_pred
FROM (
  SELECT {id_col},
         {frac_cols},
         {sfrac_cols}
  FROM (
    SELECT {id_col}, {toks} AS toks, {text_col} AS txt,
           length(regexp_replace({text_col}, '{_NONWS_CLASS}', '', 'g')) AS nonws
    FROM {table}
  )
)
ORDER BY {id_col}
""".strip()


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF over the stemmed
    token stream (same analyzer as keyword search) — the standard corpus
    keyword/topic-surfacing pass of a training-data pipeline.

    ``score = round(tf · ln(N / df), 9)`` (raw counts; df = docs containing
    the term). Ties break by term asc. Returns (id, term, tf, df, score).
    The round is load-bearing for the oracle: ln is transcendental, and
    Java's Math.log disagrees with DuckDB's libm ln by 1 ulp on some
    inputs — every other oracle-mirrored FP path here uses only exactly-
    rounded IEEE ops (+ − × ÷ sqrt) and stays bit-identical. Ranking uses
    the rounded value so both engines rank identically too.

    Scale (100 TB): explode + two hash aggregates with map-side partials
    ((doc,term) tf, then per-term df); the tf⋈df join shuffles on term (AQE
    handles stop-term skew); corpus size N is a one-row broadcast; the
    top-k window is partitioned by doc id — never a global sort.
    """
    from connapse_spark.functions.text import tokens_stemmed_expr
    from pyspark.sql.window import Window

    # explode_outer + isnotnull: inferred-filter dodge (a plain explode's
    # size()>0 filter re-ran the full tokenize+stem per row — see
    # repetition_stats for the mechanism)
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_stemmed_expr(F.col(text_col))).alias("term"),
    ).filter(F.col("term").isNotNull())
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n)).select(
        "id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
            9,
        ).alias("score"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(F.col("id").alias(id_col), "term", "tf", "df", "score")
    )


def sql_tfidf_top_terms(
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    from connapse_spark.functions.text import sql_tokens_stemmed

    return f"""
WITH toks AS (
  SELECT {id_col} AS id, unnest({sql_tokens_stemmed(text_col)}) AS term FROM {table}
),
tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM {table}),
scored AS (
  SELECT id, term, tf, df,
         round(CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)), 9) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, term) AS rk FROM scored
)
SELECT id AS {id_col}, term, tf, df, score FROM ranked WHERE rk <= {k}
""".strip()


# ---------------------------------------------------------------------------
# Gopher-style composite quality gate
# ---------------------------------------------------------------------------


GOPHER_STATS = ("n_tokens", "mean_token_len", "distinct_ratio", "n_stopwords", "alpha_frac")


def spark_sql_gopher_stats(toks: str) -> list[str]:
    """Spark-SQL ``expr AS name`` texts of the Gopher per-document stats
    (:data:`GOPHER_STATS`) over the token array ``toks`` — a column, since
    each stat names it. Integer counts + one exact IEEE division each."""
    dn = f"greatest(CAST(size({toks}) AS DOUBLE), 1.0D)"  # guard /0; rules still fail via n
    stop = f"array({spark_sql_values(EN_STOPWORDS)})"
    return [
        f"CAST(size({toks}) AS BIGINT) AS n_tokens",
        f"CAST(aggregate({toks}, 0L, (a, t) -> a + length(t)) AS DOUBLE) / {dn} AS mean_token_len",
        f"CAST(size(array_distinct({toks})) AS DOUBLE) / {dn} AS distinct_ratio",
        f"CAST(size(array_intersect(array_distinct({toks}), {stop})) AS BIGINT) AS n_stopwords",
        # r8: any Unicode letter counts as alphabetic (the tokenizer is
        # Unicode-wide — a Cyrillic or CJK token must not fail the alpha
        # rule the way it would under an ASCII [a-z] class)
        f"CAST(size(filter({toks}, t -> t RLIKE '\\\\p{{L}}')) AS DOUBLE) / {dn} AS alpha_frac",
    ]


def spark_sql_gopher_rules(
    min_tokens: int = 30,
    max_tokens: int = 10000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    min_distinct_ratio: float = 0.4,
    min_stopwords: int = 2,
    min_alpha_frac: float = 0.8,
) -> dict[str, str]:
    """Spark-SQL texts of the Gopher rules over the :data:`GOPHER_STATS`
    columns, keyed by output name; ``keep`` is their conjunction."""
    lit = spark_sql_literal
    rules = {
        "rule_length": f"(n_tokens >= {lit(min_tokens)}) AND (n_tokens <= {lit(max_tokens)})",
        "rule_mean_len": f"(mean_token_len >= {lit(min_mean_len)}) AND (mean_token_len <= {lit(max_mean_len)})",
        "rule_diversity": f"distinct_ratio >= {lit(min_distinct_ratio)}",
        "rule_stopwords": f"n_stopwords >= {lit(min_stopwords)}",
        "rule_alpha": f"alpha_frac >= {lit(min_alpha_frac)}",
    }
    rules["keep"] = " AND ".join(f"({r})" for r in rules.values())
    return rules


def gopher_filter(
    docs: DataFrame,
    min_tokens: int = 30,
    max_tokens: int = 10000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    min_distinct_ratio: float = 0.4,
    min_stopwords: int = 2,
    min_alpha_frac: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
    tokens_col: str | None = None,
) -> DataFrame:
    """Composite document-quality gate in the style of Gopher's quality
    heuristics (Rae et al. 2021, table A1): length window, mean-token-length
    sanity, lexical diversity, stopword presence, alphabetic fraction. Each
    rule is emitted as its own boolean column plus the conjunction ``keep``,
    so downstream can audit WHY a document was dropped.

    Every signal is integer counts + one exact IEEE division — no
    transcendental ops, so the oracle comparison is bit-strict with no
    rounding. Map-side only (whole-stage codegen, no shuffle): at 100 TB
    this runs at parquet-scan speed and composes with any later dedup pass.

    ``tokens_col`` (r12 — dataset_card pass fusion): name of a column on
    ``docs`` that ALREADY holds ``tokens_exact_expr(text_col)``; the gate
    then reads it instead of re-tokenizing, so composed callers share one
    tokenize pass. Identical values by construction.
    """
    if tokens_col is None:
        # materialize the token array as a real column (r11): the stats
        # reference it many times, and HOF-containing subtrees are not
        # fused by codegen subexpression elimination — each reference
        # re-ran the tokenizer (measured 1.67x on the sf0.1 gopher pass)
        tokens_col = "_toks_once"
        docs = docs.selectExpr("*", f"{spark_sql_tokens_exact(f'`{text_col}`')} AS _toks_once")
    idc, passed = f"`{id_col}`", [f"`{c}`" for c in passthrough]
    # materialize the per-doc stats ONCE, then derive the rules from the
    # materialized columns (r11): mean_len (an interpreted aggregate fold)
    # and alpha_frac (an interpreted filter) were each referenced by their
    # rule, by `keep`, and by the output column — every reference re-ran
    # the O(tokens) pass. Chained projections stay streaming-safe
    # (map-side); the boundary survives CollapseProject because the stats
    # are non-cheap and multi-referenced. passthrough keeps the result a
    # projection chain of `docs` — streaming callers cannot join a derived
    # frame back onto the stream (stream-stream join), and batch callers
    # save the join too.
    rules = spark_sql_gopher_rules(
        min_tokens, max_tokens, min_mean_len, max_mean_len,
        min_distinct_ratio, min_stopwords, min_alpha_frac,
    )
    return docs.selectExpr(
        idc, *spark_sql_gopher_stats(f"`{tokens_col}`"), *passed
    ).selectExpr(
        idc, *GOPHER_STATS, *[f"{t} AS {k}" for k, t in rules.items()], *passed
    )


def sql_gopher_filter(
    min_tokens: int = 30,
    max_tokens: int = 10000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    min_distinct_ratio: float = 0.4,
    min_stopwords: int = 2,
    min_alpha_frac: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH base AS (
  SELECT {id_col}, {sql_tokens_exact(text_col)} AS ts FROM {table}
),
m AS (
  SELECT {id_col},
         len(ts) AS n,
         greatest(CAST(len(ts) AS DOUBLE), 1.0) AS dn,
         CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE) AS lensum,
         len(list_distinct(ts)) AS ndist,
         len(list_intersect(list_distinct(ts), [{stop_list}])) AS nstop,
         len(list_filter(ts, t -> regexp_matches(t, '\\p{{L}}'))) AS nalpha
  FROM base
),
r AS (
  SELECT {id_col},
         CAST(n AS BIGINT) AS n_tokens,
         lensum / dn AS mean_token_len,
         CAST(ndist AS DOUBLE) / dn AS distinct_ratio,
         CAST(nstop AS BIGINT) AS n_stopwords,
         CAST(nalpha AS DOUBLE) / dn AS alpha_frac,
         (n >= {min_tokens} AND n <= {max_tokens}) AS rule_length,
         (lensum / dn >= {min_mean_len!r} AND lensum / dn <= {max_mean_len!r}) AS rule_mean_len,
         (CAST(ndist AS DOUBLE) / dn >= {min_distinct_ratio!r}) AS rule_diversity,
         (nstop >= {min_stopwords}) AS rule_stopwords,
         (CAST(nalpha AS DOUBLE) / dn >= {min_alpha_frac!r}) AS rule_alpha
  FROM m
)
SELECT *, (rule_length AND rule_mean_len AND rule_diversity AND rule_stopwords AND rule_alpha) AS keep
FROM r
""".strip()


def gopher_filter_multi(
    docs: DataFrame,
    min_tokens: int = 30,
    max_tokens: int = 10000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    min_distinct_ratio: float = 0.4,
    min_stopwords: int = 2,
    min_alpha_frac: float = 0.8,
    script_threshold: float = 0.30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The language-routed Gopher gate (r8 — composes the Unicode
    tokenizer with the r7 language machinery): :func:`gopher_filter`'s
    stopword rule is English-only, so a fluent German or Russian page
    fails it even though the rule's intent is "reads like natural
    language". Here the stopword signal is the BEST count across every
    LANG_STOPWORDS list (a doc matching any language's function words
    passes — greatest() of per-language intersections, still one token
    array scanned per list, map-side), and whole-script languages with
    no stopword list (CJK / Arabic / Cyrillic via SCRIPT_RANGES) pass
    the rule through their script fraction instead — the same
    discriminator language_id_multi routes on. Every other rule is
    gopher_filter's unchanged. Emits the routed signals
    (n_stopwords_best, script_frac_max) so drops stay auditable."""
    # materialize the token array as a real column (r11): the stats
    # reference it many times, and HOF-containing subtrees are not fused
    # by codegen subexpression elimination — each reference re-ran the
    # tokenizer (measured 1.67x on the sf0.1 gopher pass)
    docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
    toks = F.col("_toks_once")
    n = F.size(toks)
    dn = F.greatest(n.cast("double"), F.lit(1.0))
    mean_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast(
        "double"
    ) / dn
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / dn
    n_stop_best = F.greatest(*[
        F.size(F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        ))
        for lang in sorted(LANG_STOPWORDS)
    ])
    nonws = F.length(F.regexp_replace(F.col(text_col), _NONWS_CLASS, ""))
    script_frac_max = F.greatest(*[
        F.when(
            nonws > 0, F.regexp_count(F.col(text_col), F.lit(f"[{rng}]")) / nonws
        ).otherwise(F.lit(0.0))
        for _, rng in SCRIPT_RANGES
    ])
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike(r"\p{L}"))).cast("double") / dn
    # materialize the per-doc stats ONCE, then derive the rules from the
    # materialized columns (r11): same mechanism as gopher_filter — the
    # interpreted fold/filter stats and the 7-language array_intersect
    # greatest() were re-expanded per reference (42 array_intersect(
    # occurrences in the before-plan vs 7 after). `_sfrac` stays unrounded
    # for the rule (the output rounds it, exactly as before).
    stats = docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_stop_best.cast("long").alias("n_stopwords_best"),
        script_frac_max.alias("_sfrac"),
        mean_len.alias("_mean_len"),
        distinct_ratio.alias("_distinct_ratio"),
        alpha_frac.alias("_alpha_frac"),
    )
    nn, ns, sf = F.col("n_tokens"), F.col("n_stopwords_best"), F.col("_sfrac")
    ml, dr, af = F.col("_mean_len"), F.col("_distinct_ratio"), F.col("_alpha_frac")
    r_len = (nn >= min_tokens) & (nn <= max_tokens)
    r_mean = (ml >= min_mean_len) & (ml <= max_mean_len)
    r_div = dr >= min_distinct_ratio
    r_stop = (ns >= min_stopwords) | (sf >= script_threshold)
    r_alpha = af >= min_alpha_frac
    return stats.select(
        F.col(id_col),
        nn,
        ns,
        F.round(sf, 9).alias("script_frac_max"),
        r_len.alias("rule_length"),
        r_mean.alias("rule_mean_len"),
        r_div.alias("rule_diversity"),
        r_stop.alias("rule_stopwords"),
        r_alpha.alias("rule_alpha"),
        (r_len & r_mean & r_div & r_stop & r_alpha).alias("keep"),
    )


def sql_gopher_filter_multi(
    min_tokens: int = 30,
    max_tokens: int = 10000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    min_distinct_ratio: float = 0.4,
    min_stopwords: int = 2,
    min_alpha_frac: float = 0.8,
    script_threshold: float = 0.30,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    stops = ", ".join(
        "len(list_intersect(list_distinct(ts), [{}]))".format(
            ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        )
        for lang in sorted(LANG_STOPWORDS)
    )
    sfracs = ", ".join(
        f"CASE WHEN nonws > 0 THEN len(regexp_extract_all(txt, '[{rng}]')) / nonws ELSE 0.0 END"
        for _, rng in SCRIPT_RANGES
    )
    return f"""
WITH base AS (
  SELECT {id_col}, {text_col} AS txt,
         {sql_tokens_exact(text_col)} AS ts,
         length(regexp_replace({text_col}, '{_NONWS_CLASS}', '', 'g')) AS nonws
  FROM {table}
),
m AS (
  SELECT {id_col},
         len(ts) AS n,
         greatest(CAST(len(ts) AS DOUBLE), 1.0) AS dn,
         CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE) AS lensum,
         len(list_distinct(ts)) AS ndist,
         greatest({stops}) AS nstop,
         greatest({sfracs}) AS sfrac,
         len(list_filter(ts, t -> regexp_matches(t, '\\p{{L}}'))) AS nalpha
  FROM base
),
r AS (
  SELECT {id_col},
         CAST(n AS BIGINT) AS n_tokens,
         CAST(nstop AS BIGINT) AS n_stopwords_best,
         round(sfrac, 9) AS script_frac_max,
         (n >= {min_tokens} AND n <= {max_tokens}) AS rule_length,
         (lensum / dn >= {min_mean_len!r} AND lensum / dn <= {max_mean_len!r}) AS rule_mean_len,
         (CAST(ndist AS DOUBLE) / dn >= {min_distinct_ratio!r}) AS rule_diversity,
         (nstop >= {min_stopwords} OR sfrac >= {script_threshold!r}) AS rule_stopwords,
         (CAST(nalpha AS DOUBLE) / dn >= {min_alpha_frac!r}) AS rule_alpha
  FROM m
)
SELECT *, (rule_length AND rule_mean_len AND rule_diversity AND rule_stopwords AND rule_alpha) AS keep
FROM r
""".strip()


# ---------------------------------------------------------------------------
# Unigram token entropy
# ---------------------------------------------------------------------------


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram entropy ``-Σ p·ln p`` over the exact-token
    distribution — the information-density quality signal (low entropy ≈
    repetitive/templated text; complements repetition_stats' top-ngram
    ownership rules).

    Computed entirely within the row: fold over the SORTED distinct tokens
    so the FP accumulation order is pinned on both engines (a groupBy-based
    Σ would sum in partition order and drift in the last ulp); ln rounds to
    9dp at the end (Java vs libm 1-ulp, same note as tfidf_top_terms).
    Map-side only, no shuffle. O(distinct·n) per row — fine for documents,
    and still cheaper than an explode+shuffle at corpus scale.
    """
    # materialize the token array as a real column (r11): the stats
    # reference it many times, and HOF-containing subtrees are not fused
    # by codegen subexpression elimination — each reference re-ran the
    # tokenizer (measured 1.67x on the sf0.1 gopher pass)
    docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
    toks = F.col("_toks_once")
    n = F.size(toks).cast("double")
    # compute each token's probability ONCE via transform, then fold
    # (r11): the fold body referenced p twice (once for the weight, once
    # inside the log), and the interpreted filter() inside re-ran the
    # O(tokens) count per reference — halving the dominant O(distinct·n)
    # cost. Same sorted order, same float ops → bit-identical entropy.
    ps = F.transform(
        F.array_sort(F.array_distinct(toks)),
        lambda t: F.size(F.filter(toks, lambda x: x == t)).cast("double") / n,
    )
    ent = F.aggregate(ps, F.lit(0.0), lambda acc, p: acc - p * F.log(p))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.when(F.size(toks) > 0, F.round(ent, 9)).otherwise(F.lit(0.0)).alias("entropy"),
    )


def sql_token_entropy(
    id_col: str = "doc_id", text_col: str = "text", table: str = "documents"
) -> str:
    return f"""
WITH base AS (
  SELECT {id_col}, {sql_tokens_exact(text_col)} AS ts FROM {table}
),
m AS (
  SELECT {id_col}, ts, CAST(len(ts) AS DOUBLE) AS n, list_sort(list_distinct(ts)) AS dts
  FROM base
)
SELECT {id_col},
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(len(dts) AS BIGINT) AS n_distinct,
       CASE WHEN len(ts) > 0 THEN round(list_reduce(list_prepend(0.0,
         list_transform(dts, t ->
           -(CAST(len(list_filter(ts, x -> x = t)) AS DOUBLE) / n)
            * ln(CAST(len(list_filter(ts, x -> x = t)) AS DOUBLE) / n))),
         (a, v) -> a + v), 9) ELSE 0.0 END AS entropy
FROM m
""".strip()


# ---------------------------------------------------------------------------
# Unigram-LM perplexity scoring (CCNet-style quality signal)
# ---------------------------------------------------------------------------

PPL_ALPHA = 0.5  # Lidstone smoothing


def unigram_model(
    docs: DataFrame,
    alpha: float = PPL_ALPHA,
    text_col: str = "text",
) -> DataFrame:
    """Unigram language model fit on the corpus: per-term Lidstone-smoothed
    log-probability ln((c+α)/(T+α(V+1))), quantized to integer micro-nats
    (round(lp·1e6) as bigint) so downstream per-document sums are EXACT
    integer math — partition-order independent, hence oracle-mirrorable.
    The +1 in V+1 reserves one smoothing slot for OOV terms.

    Scale: explode → one hash aggregate with map-side partials on term;
    the (T, V) totals collapse to a single broadcast row. Quantization's
    1-ulp ln risk is the same documented trade as tfidf_top_terms.
    """
    # explode_outer + isnotnull: inferred-filter dodge (see repetition_stats)
    toks = docs.select(
        F.explode_outer(tokens_exact_expr(F.col(text_col))).alias("term")
    ).filter(F.col("term").isNotNull())
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.agg(
        F.sum("c").alias("_t"), F.count(F.lit(1)).alias("_v")
    )
    lp = F.log(
        (F.col("c") + F.lit(alpha))
        / (F.col("_t") + F.lit(alpha) * (F.col("_v") + F.lit(1)))
    )
    return counts.crossJoin(F.broadcast(stats)).select(
        "term", F.round(lp * F.lit(1e6)).cast("bigint").alias("lp_q")
    )


def perplexity_score(
    docs: DataFrame,
    alpha: float = PPL_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: DataFrame | None = None,
    oov_lp_q: int | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under a unigram LM
    (CCNet, Wenzek et al. 2020, uses KenLM perplexity to bucket CommonCrawl
    by quality; this is the unigram analogue over the same token stream —
    no external model artifacts needed, fit on the corpus itself by
    default, or pass ``model`` (term, lp_q) from a reference corpus plus
    ``oov_lp_q``, the quantized logprob of the reserved OOV smoothing slot,
    for terms the model never saw; a self-fit model has no OOV terms).

    Returns (id, n_tokens, nll_q, mean_nll): nll_q is the exact integer
    micro-nat total; mean_nll = nll_q/n/1e6 — two exact integers through
    exactly-rounded double division, bit-identical across engines. exp()
    is left to callers (transcendental; would break bit-parity).

    Scale: the token→model join shuffles exploded tokens on term UNLESS the
    model is broadcast — AQE converts automatically while the vocab is
    under the broadcast threshold (typical even at large corpus scale:
    vocab grows ~O(corpus^0.5), Heaps' law). Per-doc aggregate is map-side
    partial on id.
    """
    if model is None:
        model = unigram_model(docs, alpha, text_col)
        if oov_lp_q is None:
            oov_lp_q = 0  # self-fit model: every corpus term is in-vocab
    elif oov_lp_q is None:
        # External model without the reserved OOV slot: coalescing to 0
        # would score unseen terms at probability 1 and silently understate
        # NLL. The caller must supply the quantized smoothing-slot logprob
        # (round(ln(alpha / (T + alpha*(V+1))) * 1e6) from the model fit).
        raise ValueError(
            "perplexity_score: an external `model` requires `oov_lp_q` "
            "(quantized logprob of the reserved OOV smoothing slot)"
        )
    # explode_outer + isnotnull: inferred-filter dodge (see repetition_stats)
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_exact_expr(F.col(text_col))).alias("term"),
    ).filter(F.col("term").isNotNull())
    scored = tok.join(model, "term", "left")
    lp = F.coalesce(F.col("lp_q"), F.lit(oov_lp_q))
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.sum(lp)).alias("nll_q"),
    )
    base = docs.select(F.col(id_col).alias("id"))
    return base.join(agg, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("nll_q", F.lit(0)).alias("nll_q"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.col("nll_q").cast("double") / F.col("n_tokens").cast("double") / F.lit(1e6),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_nll"),
    )


def bigram_model(
    docs: DataFrame,
    alpha: float = PPL_ALPHA,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bigram LM fit (r8 — the 2-gram tier above :func:`unigram_model`,
    one step toward CCNet's actual KenLM n-gram bucketing): returns
    ``(bigrams, prefixes, consts)`` — per observed bigram
    ``num_q = lnq(c₁₂ + α)``, per prefix word ``den_q =
    lnq(c₁ + α(V+1))``, and the two engine-computed miss constants
    (``lnq(α)``, ``lnq(α(V+1))``) that score UNOBSERVED continuations
    and UNKNOWN prefixes. The conditional logprob quantizes in two parts
    (numerator/denominator separately) instead of per-ratio, so every
    possible bigram has an exact integer logprob derivable from O(seen)
    rows — never V² — and document sums stay order-free integer math.

    Scale: one (w1, w2) hash aggregate over exploded pairs (map-side
    partials), the prefix table folds from it (never re-reads the
    corpus), and V collapses to one broadcast row."""
    # materialize the token array as a real column (r11): the stats
    # reference it many times, and HOF-containing subtrees are not fused
    # by codegen subexpression elimination — each reference re-ran the
    # tokenizer (measured 1.67x on the sf0.1 gopher pass)
    docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
    toks = F.col("_toks_once")
    # greatest(-, 0): a zero/one-token document must yield an empty pair
    # array, not a negative slice length (crashes the job — r8 review;
    # the dedup.py gram builders guard the same construction)
    n_out = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    pair_arr = F.zip_with(
        F.slice(toks, 1, n_out), F.slice(toks, 2, n_out),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # explode_outer + isnotnull (both explodes): inferred-filter dodge —
    # a plain explode's size()>0 filter pushes through the _toks_once
    # projection and re-runs the tokenizer (+ the pair zip) per row
    # (see repetition_stats)
    pt = (
        docs.select(F.explode_outer(pair_arr).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = pt.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    pref = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        docs.select(F.explode_outer(toks).alias("t"))
        .filter(F.col("t").isNotNull())
        .agg(F.count_distinct("t").alias("_v"))
    )
    bigq = big.select(
        "w1", "w2",
        F.round(F.log(F.col("c12") + F.lit(alpha)) * F.lit(1e6))
        .cast("bigint").alias("num_q"),
    )
    prefq = pref.crossJoin(F.broadcast(vocab)).select(
        "w1",
        F.round(F.log(F.col("c1") + F.lit(alpha) * (F.col("_v") + F.lit(1))) * F.lit(1e6))
        .cast("bigint").alias("den_q"),
    )
    consts = vocab.select(
        F.round(F.log(F.lit(alpha)) * F.lit(1e6)).cast("bigint").alias("miss_num_q"),
        F.round(F.log(F.lit(alpha) * (F.col("_v") + F.lit(1))) * F.lit(1e6))
        .cast("bigint").alias("miss_den_q"),
    )
    return bigq, prefq, consts


def bigram_perplexity(
    docs: DataFrame,
    alpha: float = PPL_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-document CONDITIONAL bigram NLL (first token unscored —
    compose with :func:`perplexity_score` for the joint): for each
    bigram position, ``lp_q = num_q(w₁,w₂) − den_q(w₁)``, falling back
    to the model's miss constants for continuations/prefixes the model
    never saw (a self-fit model hits neither). Returns
    (id, n_bigrams, nll_q, mean_nll) — exact integer micro-nat sums,
    then one exactly-rounded double division, the
    :func:`perplexity_score` discipline. A repeated-boilerplate page
    scores LOW (its bigrams dominate the fit); hand-shuffled word salad
    scores HIGH even when its unigram profile is normal — the signal
    unigram perplexity cannot see.

    Scale: pairs join the bigram table on (w1, w2) — AQE broadcasts
    while the model fits (bigram vocab grows sublinearly), shuffles on
    the pair key past that; the per-doc aggregate is map-side partial."""
    bigq, prefq, consts = model if model is not None else bigram_model(
        docs, alpha, text_col
    )
    # materialize the token array as a real column (r11): the stats
    # reference it many times, and HOF-containing subtrees are not fused
    # by codegen subexpression elimination — each reference re-ran the
    # tokenizer (measured 1.67x on the sf0.1 gopher pass)
    docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
    toks = F.col("_toks_once")
    n_out = F.greatest(F.size(toks) - F.lit(1), F.lit(0))  # see bigram_model
    pair_arr = F.zip_with(
        F.slice(toks, 1, n_out), F.slice(toks, 2, n_out),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # explode_outer + isnotnull: inferred-filter dodge (see bigram_model)
    pt = (
        docs.select(F.col(id_col).alias("id"), F.explode_outer(pair_arr).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    scored = (
        pt.join(bigq, ["w1", "w2"], "left")
        .join(prefq, "w1", "left")
        .crossJoin(F.broadcast(consts))
    )
    lp = F.coalesce(F.col("num_q"), F.col("miss_num_q")) - F.coalesce(
        F.col("den_q"), F.col("miss_den_q")
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), (-F.sum(lp)).alias("nll_q")
    )
    base = docs.select(F.col(id_col).alias("id"))
    return base.join(agg, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("nll_q", F.lit(0)).alias("nll_q"),
        F.when(
            F.coalesce("n_bigrams", F.lit(0)) > 0,
            F.col("nll_q").cast("double") / F.col("n_bigrams").cast("double") / F.lit(1e6),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_nll"),
    )


def sql_bigram_perplexity(
    alpha: float = PPL_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """Mirror of bigram_perplexity with a self-fit model (every pair and
    prefix observed, so the miss constants never fire): identical
    two-part quantization and integer sums, same division order."""
    return f"""
WITH base AS (SELECT {id_col} AS id, {sql_tokens_exact(text_col)} AS ts FROM {table}),
pt AS (
  SELECT id, ts[i + 1] AS w1, ts[i + 2] AS w2
  FROM (SELECT id, ts, unnest(range(0, len(ts) - 1)) AS i FROM base WHERE len(ts) >= 2)
),
big AS (SELECT w1, w2, count(*) AS c12 FROM pt GROUP BY w1, w2),
pref AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY w1),
vocab AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(ts) AS t FROM base)),
bigq AS (
  SELECT w1, w2, CAST(round(ln(c12 + {alpha!r}) * 1000000.0) AS BIGINT) AS num_q
  FROM big
),
prefq AS (
  SELECT w1, CAST(round(ln(c1 + {alpha!r} * (v + 1)) * 1000000.0) AS BIGINT) AS den_q
  FROM pref, vocab
),
agg AS (
  SELECT id, count(*) AS n_bigrams, -sum(num_q - den_q) AS nll_q
  FROM pt JOIN bigq USING (w1, w2) JOIN prefq USING (w1)
  GROUP BY id
)
SELECT d.{id_col},
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(nll_q, 0) AS BIGINT) AS nll_q,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN CAST(nll_q AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0
            ELSE 0.0 END AS mean_nll
FROM {table} d LEFT JOIN agg ON d.{id_col} = agg.id
""".strip()


def sql_perplexity_score(
    alpha: float = PPL_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """Mirror of perplexity_score with a self-fit model (no OOV terms):
    identical smoothing arithmetic, integer micro-nat sums, same division
    order for mean_nll."""
    return f"""
WITH tok AS (
  SELECT {id_col} AS id, unnest({sql_tokens_exact(text_col)}) AS term FROM {table}
),
counts AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
stats AS (SELECT sum(c) AS t, count(*) AS v FROM counts),
model AS (
  SELECT term,
         CAST(round(ln((c + {alpha!r}) / (t + {alpha!r} * (v + 1))) * 1000000.0) AS BIGINT) AS lp_q
  FROM counts, stats
),
agg AS (
  SELECT id, count(*) AS n_tokens, -sum(lp_q) AS nll_q
  FROM tok JOIN model USING (term) GROUP BY id
)
SELECT d.{id_col},
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(nll_q, 0) AS BIGINT) AS nll_q,
       CASE WHEN coalesce(n_tokens, 0) > 0
            THEN CAST(nll_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
            ELSE 0.0 END AS mean_nll
FROM {table} d LEFT JOIN agg ON d.{id_col} = agg.id
""".strip()


# ---------------------------------------------------------------------------
# Declared-vs-detected language mismatch
# ---------------------------------------------------------------------------


def lang_mismatch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Flag documents whose declared language tag disagrees with the
    stopword-fraction detector — the standard metadata-hygiene screen
    before language-bucketed training mixes. Map-side only: the detector
    runs in the same projection as the declared column (no join).

    Returns (id, lang_declared, lang_pred, is_match)."""
    pred = language_id_multi(docs, id_col, text_col, keep_cols=(lang_col,))
    return pred.select(
        F.col(id_col),
        F.col(lang_col).alias("lang_declared"),
        F.col("lang_pred"),
        (F.col(lang_col) == F.col("lang_pred")).alias("is_match"),
    )


def sql_lang_mismatch(
    id_col: str = "doc_id", text_col: str = "text", lang_col: str = "lang"
) -> str:
    return f"""
SELECT {id_col}, {lang_col} AS lang_declared, lang_pred,
       ({lang_col} = lang_pred) AS is_match
FROM ({sql_language_id_multi(id_col, text_col)})
JOIN documents USING ({id_col})
""".strip()


# ---------------------------------------------------------------------------
# Corpus-wide top-k n-grams (tokenizer / merge-table vocabulary pass)
# ---------------------------------------------------------------------------


def top_ngrams(
    docs: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Most frequent token n-grams corpus-wide — the counting pass behind
    tokenizer training / BPE merge tables / collocation mining. Grams are
    space-joined runs of n consecutive exact tokens.

    Returns (gram, n_occurrences) for the top k by occurrence count
    (ties by gram asc).

    Scale: in-row gram construction via n−1 chained zip_with over SHIFTED
    array views (each O(len); the obvious transform-over-indexes with a
    per-position F.slice is O(len²) per doc — measured 6× slower at sf0.1
    because Catalyst's slice copies from the start offset every call),
    explode, ONE hash aggregate with map-side partials on gram, then
    TakeOrdered(k) — no global sort."""
    # materialize the token array as a real column (r11): the stats
    # reference it many times, and HOF-containing subtrees are not fused
    # by codegen subexpression elimination — each reference re-ran the
    # tokenizer (measured 1.67x on the sf0.1 gopher pass)
    docs = docs.withColumn("_toks_once", tokens_exact_expr(F.col(text_col)))
    toks = F.col("_toks_once")
    n_out = F.size(toks) - F.lit(n - 1)
    gram_expr = F.slice(toks, 1, n_out)
    for j in range(1, n):
        gram_expr = F.zip_with(
            gram_expr,
            F.slice(toks, 1 + j, n_out),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.when(F.size(toks) >= n, gram_expr).otherwise(
        F.array().cast("array<string>")
    )
    counts = (
        # explode_outer + isnotnull: inferred-filter dodge (see
        # repetition_stats; a plain explode re-ran the gram chain per row)
        docs.select(F.explode_outer(grams).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return counts.orderBy(F.desc("n_occurrences"), F.col("gram")).limit(k)


def sql_top_ngrams(
    n: int = 2, k: int = 20, text_col: str = "text", table: str = "documents"
) -> str:
    return f"""
WITH base AS (SELECT {sql_tokens_exact(text_col)} AS ts FROM {table}),
grams AS (
  SELECT array_to_string(ts[i + 1:i + {n}], ' ') AS gram
  FROM (SELECT ts, unnest(range(0, len(ts) - {n} + 1)) AS i FROM base WHERE len(ts) >= {n})
)
SELECT gram, count(*) AS n_occurrences
FROM grams GROUP BY gram
ORDER BY n_occurrences DESC, gram LIMIT {k}
""".strip()


def dsir_weights(
    docs: DataFrame,
    target_docs: DataFrame,
    alpha: float = PPL_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    every source document by how much more likely its tokens are under a
    TARGET-corpus unigram LM than under the source LM —
    log w(doc) = Σ_t [ln p_target(t) − ln p_source(t)]. Documents that
    look like the target distribution get high weights; importance
    resampling then draws the training mix (sampling.deterministic_sample
    over the weight is the draw step).

    Same exact-arithmetic discipline as perplexity_score: both logprobs
    are quantized to integer micro-nats, the per-doc sum is exact integer
    math, and the mean is one exactly-rounded division. Target-OOV tokens
    (present in source, absent in target) take the target's reserved
    smoothing slot ln(α/(T+α(V+1))).

    Returns (id, n_tokens, weight_q, mean_log_ratio); weight_q > 0 →
    closer to target than to the source average.

    Scale: two vocab tables (AQE-broadcast), one exploded-token join
    pipeline, one per-doc aggregate — all map-side-partial.
    """
    src_model = unigram_model(docs, alpha, text_col)
    # explode_outer + isnotnull: inferred-filter dodge (see repetition_stats)
    tgt_toks = target_docs.select(
        F.explode_outer(tokens_exact_expr(F.col(text_col))).alias("term")
    ).filter(F.col("term").isNotNull())
    tgt_counts = tgt_toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tgt_stats = tgt_counts.agg(F.sum("c").alias("_t"), F.count(F.lit(1)).alias("_v"))
    tgt_lp = F.log(
        (F.col("c") + F.lit(alpha))
        / (F.col("_t") + F.lit(alpha) * (F.col("_v") + F.lit(1)))
    )
    tgt_model = tgt_counts.crossJoin(F.broadcast(tgt_stats)).select(
        "term", F.round(tgt_lp * F.lit(1e6)).cast("bigint").alias("lp_tgt_q")
    )
    oov_lp = F.round(
        F.log(
            F.lit(alpha)
            / (F.col("_t") + F.lit(alpha) * (F.col("_v") + F.lit(1)))
        )
        * F.lit(1e6)
    ).cast("bigint")

    # explode_outer + isnotnull: inferred-filter dodge (see repetition_stats)
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_exact_expr(F.col(text_col))).alias("term"),
    ).filter(F.col("term").isNotNull())
    scored = (
        tok.join(src_model, "term")  # every source token is in the source model
        .join(tgt_model, "term", "left")
        .crossJoin(F.broadcast(tgt_stats))
        .select(
            "id",
            (F.coalesce(F.col("lp_tgt_q"), oov_lp) - F.col("lp_q")).alias("_d"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("_d").alias("weight_q")
    )
    base = docs.select(F.col(id_col).alias("id"))
    return base.join(agg, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("weight_q", F.lit(0)).alias("weight_q"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.col("weight_q").cast("double") / F.col("n_tokens").cast("double") / F.lit(1e6),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_log_ratio"),
    )


def sql_dsir_weights(
    alpha: float = PPL_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    target_where: str = "lang = 'en'",
) -> str:
    """Mirror of dsir_weights with target = source rows matching
    ``target_where``: identical smoothing arithmetic and quantization on
    both models, same OOV slot, same integer sums and division order."""
    return f"""
WITH tok AS (
  SELECT {id_col} AS id, unnest({sql_tokens_exact(text_col)}) AS term FROM {table}
),
src_counts AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
src_stats AS (SELECT sum(c) AS t, count(*) AS v FROM src_counts),
src_model AS (
  SELECT term,
         CAST(round(ln((c + {alpha!r}) / (t + {alpha!r} * (v + 1))) * 1000000.0) AS BIGINT) AS lp_q
  FROM src_counts, src_stats
),
tgt_tok AS (
  SELECT unnest({sql_tokens_exact(text_col)}) AS term FROM {table} WHERE {target_where}
),
tgt_counts AS (SELECT term, count(*) AS c FROM tgt_tok GROUP BY term),
tgt_stats AS (SELECT sum(c) AS t, count(*) AS v FROM tgt_counts),
tgt_model AS (
  SELECT term,
         CAST(round(ln((c + {alpha!r}) / (t + {alpha!r} * (v + 1))) * 1000000.0) AS BIGINT) AS lp_tgt_q
  FROM tgt_counts, tgt_stats
),
agg AS (
  SELECT id, count(*) AS n_tokens,
         sum(coalesce(lp_tgt_q,
                      CAST(round(ln({alpha!r} / (t + {alpha!r} * (v + 1))) * 1000000.0) AS BIGINT))
             - lp_q) AS weight_q
  FROM tok JOIN src_model USING (term)
           LEFT JOIN tgt_model USING (term), tgt_stats
  GROUP BY id
)
SELECT d.{id_col},
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(weight_q, 0) AS BIGINT) AS weight_q,
       CASE WHEN coalesce(n_tokens, 0) > 0
            THEN CAST(weight_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
            ELSE 0.0 END AS mean_log_ratio
FROM {table} d LEFT JOIN agg ON d.{id_col} = agg.id
""".strip()


# ---------------------------------------------------------------------------
# BPE merge-candidate statistics (tokenizer training, iteration 0)
# ---------------------------------------------------------------------------


def bpe_merge_candidates(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The first iteration of byte-pair-encoding tokenizer training
    (Sennrich, Haddow & Birch, ACL 2016 §3.2): frequency of every adjacent
    symbol pair over the corpus, where each word is its character sequence
    plus the '</w>' end-of-word marker and pair occurrences are weighted by
    corpus word frequency. The top pair IS the first BPE merge.

    Output: (lhs, rhs, weight) — top ``k`` by (weight DESC, lhs, rhs).

    Scale (100 TB): the ONLY corpus-sized operation is the word-frequency
    aggregate — one shuffle with map-side partial counts. Everything after
    runs on the (word, freq) VOCABULARY table, which Zipf keeps in the
    low millions of rows regardless of corpus size; this is exactly why
    corpus-scale BPE training is feasible — the merge loop iterates on the
    compact vocab (re-pairing after each merge), never rescanning the
    corpus. A full trainer would loop: apply best merge to the symbol
    arrays (vocab-local map), re-aggregate pairs, repeat; every iteration
    has this same vocab-sized plan."""
    words = (
        # explode_outer + isnotnull: inferred-filter dodge (see
        # repetition_stats)
        docs.select(F.explode_outer(tokens_exact_expr(F.col(text_col))).alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.substring(F.col("w"), i, 1)
    )
    syms = words.select(
        "freq", F.concat(chars, F.array(F.lit("</w>"))).alias("sy")
    )
    n = F.size("sy")
    pairs = F.zip_with(
        F.slice("sy", 1, n - 1),
        F.slice("sy", 2, n - 1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )
    return (
        # explode_outer + isnotnull: inferred-filter dodge (the pair zip
        # over the symbol array would otherwise rebuild per row — see
        # repetition_stats)
        syms.select("freq", F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").alias("weight"))
        .orderBy(F.desc("weight"), "lhs", "rhs")
        .limit(k)
    )


def sql_bpe_merge_candidates(
    k: int = 20, text_col: str = "text", table: str = "documents"
) -> str:
    """Mirror — integer weights, so no FP-order concerns anywhere."""
    return f"""
WITH words AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({sql_tokens_exact(text_col)}) AS w FROM {table})
  GROUP BY w
),
syms AS (
  SELECT freq,
         list_append(list_transform(range(1, length(w) + 1),
                                    i -> substr(w, i, 1)), '</w>') AS sy
  FROM words
),
pairs AS (
  SELECT freq, sy[i] AS lhs, sy[i + 1] AS rhs
  FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i FROM syms)
)
SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS weight
FROM pairs GROUP BY lhs, rhs
ORDER BY weight DESC, lhs, rhs LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Linear quality-classifier score (continuous quality, not a hard gate)
# ---------------------------------------------------------------------------

# Pinned interpretable weights over the Gopher feature vector. A real
# deployment trains these (fasttext in DCLM, a distilled classifier in
# FineWeb-Edu) and passes its own dict — the PLAN is weight-agnostic.
QUALITY_LOGIT_WEIGHTS = {
    "bias": -2.0,
    "n_tokens": 0.002,        # longer docs mildly preferred…
    "mean_token_len": -0.15,  # …but not gibberish long tokens
    "distinct_ratio": 1.5,    # lexical diversity
    "n_stopwords": 0.05,      # natural-language evidence
    "alpha_frac": 1.2,        # alphabetic (not markup/numeric soup)
}


def quality_score_linear(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
    tokens_col: str | None = None,
) -> DataFrame:
    """Continuous quality score: a linear model over the gopher_filter
    feature vector — the threshold-sweepable classifier score that
    model-based filters rank and sample by (DCLM fasttext scores, Penedo
    et al. 2024's FineWeb-Edu scores), where gopher_filter is the hard
    gate. The LOGIT is emitted, not the sigmoid: monotone in it, and free
    of cross-engine transcendental rounding, so the oracle stays
    bit-strict. Terms are added in pinned declaration order (left-assoc in
    both engines).

    Scale: gopher_filter is map-side; this adds a projection. Nothing
    shuffles."""
    w = QUALITY_LOGIT_WEIGHTS if weights is None else weights
    gf = gopher_filter(
        docs, id_col=id_col, text_col=text_col, passthrough=passthrough,
        tokens_col=tokens_col,
    )
    logit = F.lit(float(w["bias"]))
    for feat in ("n_tokens", "mean_token_len", "distinct_ratio", "n_stopwords", "alpha_frac"):
        logit = logit + F.lit(float(w[feat])) * F.col(feat).cast("double")
    return gf.select(
        F.col(id_col),
        logit.alias("quality_logit"),
        F.col("keep").alias("gate_keep"),
        *[F.col(c) for c in passthrough],
    )


def sql_quality_score_linear(
    weights: dict[str, float] | None = None, id_col: str = "doc_id"
) -> str:
    w = QUALITY_LOGIT_WEIGHTS if weights is None else weights
    terms = "".join(
        f" + {float(w[f])!r} * CAST({f} AS DOUBLE)"
        for f in ("n_tokens", "mean_token_len", "distinct_ratio", "n_stopwords", "alpha_frac")
    )
    return f"""
SELECT {id_col}, {float(w["bias"])!r}{terms} AS quality_logit, keep AS gate_keep
FROM ({sql_gopher_filter(id_col=id_col)})
""".strip()


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters (bounded-memory approximate counting)
# ---------------------------------------------------------------------------


def _cms_idx(tok: Column, i: int, w: int) -> Column:
    """Row-``i`` counter index for a token: the (2i+1)·h + i²+7 affine
    family over the shared sha hash — same construction as the minhash
    coefficients, identical in SQL."""
    h = _sha_bigint(tok)
    return ((2 * i + 1) * h + i * i + 7) % HASH_MOD % w


def _sql_cms_idx(tok: str, i: int, w: int) -> str:
    return f"((({2 * i + 1} * {sql_sha_bigint(tok)} + {i * i + 7}) % {HASH_MOD}) % {w})"


def cms_heavy_hitters(
    docs: DataFrame,
    k: int = 20,
    d: int = 4,
    w: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Count-Min Sketch audit (Cormode & Muthukrishnan, J.Algorithms 2005):
    build a d×w counter sketch over the token stream, then report the
    exact top-``k`` tokens with their CMS estimates. CMS never
    underestimates (min over d rows of counters that each received every
    occurrence), and overshoots by at most ε·N with ε = e/w w.h.p. —
    emitting (token, exact_n, cms_n) makes the bound observable:
    ``cms_n >= exact_n`` row by row.

    Why at 100 TB: the exact counting pass shuffles a vocab-sized
    aggregate; the sketch is a CONSTANT d·w counters regardless of vocab —
    the building block for per-partition/streaming frequency state where a
    full vocabulary map cannot live in memory (the sketch merges by cell
    addition, so per-executor partials combine exactly like any map-side
    aggregate).

    Plan: one explode of the token stream → d map-side-partial aggregates
    over (row, idx) — sketch build is ONE shuffle of ≤ d·w cells; the
    exact top-k reuses top_ngrams' single-aggregate plan; estimates come
    from a broadcast of the d·w-cell sketch (tiny)."""
    toks = docs.select(F.explode(tokens_exact_expr(F.col(text_col))).alias("t"))
    cells = toks.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("i"), _cms_idx(F.col("t"), i, w).alias("idx"))
                for i in range(d)
            ])
        ).alias("c")
    ).groupBy(F.col("c.i").alias("i"), F.col("c.idx").alias("idx")).agg(
        F.count(F.lit(1)).alias("n")
    )
    sketch = cells.agg(
        F.map_from_entries(
            F.collect_list(F.struct((F.col("i") * w + F.col("idx")).alias("k"), F.col("n")))
        ).alias("_cms")
    )
    exact = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "t")
        .limit(k)
    )
    est = F.least(
        *[
            F.coalesce(
                F.element_at(F.col("_cms"), (F.lit(i * w) + _cms_idx(F.col("t"), i, w)).cast("bigint")),
                F.lit(0).cast("bigint"),
            )
            for i in range(d)
        ]
    )
    return (
        exact.crossJoin(F.broadcast(sketch))
        .select(
            F.col("t").alias("token"),
            F.col("exact_n"),
            est.alias("cms_n"),
        )
        .orderBy(F.desc("exact_n"), "token")
    )


def sql_cms_heavy_hitters(
    k: int = 20, d: int = 4, w: int = 1024, text_col: str = "text", table: str = "documents"
) -> str:
    idx_exprs = ", ".join(
        f"{{'i': {i}, 'idx': {_sql_cms_idx('t', i, w)}}}" for i in range(d)
    )
    est = "least(" + ", ".join(
        f"coalesce(cms[{i} * {w} + {_sql_cms_idx('e.t', i, w)} + 1], 0)" for i in range(d)
    ) + ")"
    return f"""
WITH toks AS (
  SELECT unnest({sql_tokens_exact(text_col)}) AS t FROM {table}
),
cells AS (
  SELECT c.i AS i, c.idx AS idx, count(*) AS n
  FROM (SELECT unnest([{idx_exprs}]) AS c FROM toks)
  GROUP BY c.i, c.idx
),
sketch AS (
  SELECT list_sort(list(CAST(i * {w} + idx AS BIGINT) ORDER BY i * {w} + idx)) AS ks,
         list(CAST(n AS BIGINT) ORDER BY i * {w} + idx) AS vs
  FROM cells
),
dense AS (
  SELECT list_transform(range(0, {d} * {w}),
                        kk -> CASE WHEN list_position(ks, CAST(kk AS BIGINT)) > 0
                                   THEN vs[list_position(ks, CAST(kk AS BIGINT))]
                                   ELSE 0::BIGINT END) AS cms
  FROM sketch
),
exact AS (
  SELECT t, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY t
  ORDER BY exact_n DESC, t LIMIT {k}
)
SELECT e.t AS token, e.exact_n, {est} AS cms_n
FROM exact e, dense
ORDER BY e.exact_n DESC, token
""".strip()


# ---------------------------------------------------------------------------
# Linear-counting distinct sketch (constant-memory approx distinct)
# ---------------------------------------------------------------------------


def distinct_sketch_by(
    docs: DataFrame,
    group_col: str = "source",
    m_bits: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Per-group approximate distinct-token counts by LINEAR COUNTING
    (Whang, Vander-Zanden & Taylor, TODS 1990): hash every token into an
    m-bit table, count the bits left empty; n̂ = -m·ln(V) where V is the
    empty fraction. Emitted per group: the exact distinct count (the
    verification column), the occupied-bit count (integer — the sketch
    state itself, engine-exact), and the estimate rounded to 6dp (ln is
    the one non-exactly-rounded op, same treatment as tfidf's score).

    Why at 100 TB: exact count-distinct per group shuffles the full
    (group, token) pair stream; the sketch is m BITS per group merged by
    OR — per-executor partials stay constant-size, the same reason Spark
    ships approx_count_distinct(HLL). This one is deterministic and
    engine-mirrorable where HLL's implementation is not.

    Plan: one explode → per-group distinct-position aggregate (map-side
    partials; positions ≤ m per group) vs the exact path's full distinct."""
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens_exact_expr(F.col(text_col))).alias("t"),
    )
    pos = toks.select("grp", (_sha_bigint(F.col("t")) % m_bits).alias("p"))
    occ = pos.distinct().groupBy("grp").agg(F.count(F.lit(1)).alias("occupied_bits"))
    exact = (
        toks.distinct().groupBy("grp").agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    est = -F.lit(float(m_bits)) * F.log(
        (F.lit(m_bits) - F.col("occupied_bits").cast("double")) / F.lit(float(m_bits))
    )
    return (
        exact.join(occ, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("exact_distinct"),
            F.col("occupied_bits"),
            F.round(est, 6).alias("estimate"),
        )
        .orderBy(group_col)
    )


def sql_distinct_sketch_by(
    group_col: str = "source", m_bits: int = 4096, text_col: str = "text",
    table: str = "documents",
) -> str:
    return f"""
WITH toks AS (
  SELECT {group_col} AS grp, unnest({sql_tokens_exact(text_col)}) AS t FROM {table}
),
pos AS (SELECT DISTINCT grp, ({sql_sha_bigint('t')} % {m_bits}) AS p FROM toks),
occ AS (SELECT grp, count(*) AS occupied_bits FROM pos GROUP BY grp),
exact AS (
  SELECT grp, count(*) AS exact_distinct FROM (SELECT DISTINCT grp, t FROM toks)
  GROUP BY grp
)
SELECT e.grp AS {group_col},
       CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
       CAST(o.occupied_bits AS BIGINT) AS occupied_bits,
       round(-{float(m_bits)!r} * ln(({m_bits} - CAST(o.occupied_bits AS DOUBLE)) / {float(m_bits)!r}), 6) AS estimate
FROM exact e JOIN occ o ON e.grp = o.grp
ORDER BY {group_col}
""".strip()


# ---------------------------------------------------------------------------
# BPE train + apply (the full tokenizer loop around bpe_merge_candidates)
# ---------------------------------------------------------------------------

MAX_DRIVER_VOCAB = 2_000_000


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    max_vocab_rows: int = MAX_DRIVER_VOCAB,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges. Architecture mirrors how production
    tokenizer training actually splits the work (HF tokenizers, SentencePiece):
    the CORPUS-scale part — word counting — is the distributed job; the
    merge loop then runs on the Zipf-bounded (word, freq) VOCAB in driver
    memory (guarded like knn_join's collect: raise past ``max_vocab_rows``
    — at that point shard the vocab or sample, the counts are what matter).
    Iteration 1 equals bpe_merge_candidates' top row by construction
    (unit-pinned), so the oracle-checked operator anchors the loop."""
    vocab_df = (
        docs.select(F.explode(tokens_exact_expr(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rows = vocab_df.limit(max_vocab_rows + 1).collect()
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"bpe_train: vocabulary exceeds max_vocab_rows={max_vocab_rows}; "
            "sample the corpus or raise the cap on a larger driver"
        )
    vocab = {tuple(list(r["w"]) + ["</w>"]): r["freq"] for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
    return merges


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize with learned merges: per word, start from characters+'</w>'
    and apply each merge in priority order — the standard greedy BPE
    segmenter. The merge list is tiny and closure-captured (broadcast with
    the task); the work is an Arrow-batched map over documents.

    Output: (id, n_words, n_bpe_tokens, tokens) — tokens space-joined with
    the '</w>' markers kept, so the segmentation is fully recoverable."""
    import pandas as pd
    import re as _re

    ranks = {m: i for i, m in enumerate(merges)}
    token_re = _re.compile("[a-z0-9]+")

    def encode_word(word: str) -> list[str]:
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            best_i, best_r = -1, None
            for i, pair in enumerate(zip(syms, syms[1:])):
                r = ranks.get(pair)
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            ids, n_words, n_toks, toks = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = token_re.findall((text or "").lower())
                out = []
                for w in words:
                    if w not in cache:
                        cache[w] = encode_word(w)
                    out.extend(cache[w])
                ids.append(did)
                n_words.append(len(words))
                n_toks.append(len(out))
                toks.append(" ".join(out))
            yield pd.DataFrame(
                {"id": ids, "n_words": n_words, "n_bpe_tokens": n_toks, "tokens": toks}
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        run, "id long, n_words long, n_bpe_tokens long, tokens string"
    )
