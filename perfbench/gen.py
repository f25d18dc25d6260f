"""Seeded input generator for the knowledge-backend benchmark.

Everything the engine sees in a run comes from here: the corpus files, the
query stream, the update batch, and the curation corpus with its injected
duplicates and blocklist. The same seed gives byte-identical inputs; another
seed gives different ones (``python3 perfbench/gen.py --check`` verifies
both).

Text model:
- vocabulary: English stop words at the head, then pronounceable generated
  words; word draws follow a Zipf-Mandelbrot law, so head terms have long
  postings and tail terms short ones;
- document length: lognormal in words, so the Recursive chunker (512-token
  windows) emits several chunks for most documents, rescaled so every seed's
  corpus has the same total length;
- every document carries one serial token (``qq`` + its id in letters), which
  the update workload's deletion checks query for.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

STOP_WORDS = [
    "the", "of", "and", "to", "a", "in", "is", "that", "for", "it", "with",
    "as", "was", "on", "by", "at", "from", "are", "be", "or", "an", "this",
    "which", "were", "has", "its",
]
ZIPF_S = 1.07
ZIPF_Q = 2.7
VOCAB_SIZE = 6000
# content-term ranks (stop words excluded) that queries, blocklist passages
# and update tokens draw from
CONTENT_FROM = len(STOP_WORDS)
# read mix: queries per hybrid_search_many_fast batch
BATCH_SIZE = 20
# update wave: shares of the corpus updated and deleted
UPDATE_FRAC = 0.015
DELETE_FRAC = 0.003
# curation corpus: median doc length, shares of injected exact duplicates,
# near-duplicates (NEAR_SUB of their words substituted) and contaminated
# docs, and the number of blocklisted passages
CURATE_MEDIAN_WORDS = 300
EXACT_FRAC = 0.05
NEAR_FRAC = 0.05
NEAR_SUB = 0.02
CONTAM_FRAC = 0.03
N_PASSAGES = 12


def letters(n: int) -> str:
    """Non-negative int -> lowercase letters (bijective base 26)."""
    out = []
    n += 1
    while n:
        n, r = divmod(n - 1, 26)
        out.append(chr(97 + r))
    return "".join(reversed(out))


def serial_token(doc_id: int) -> str:
    return "qq" + letters(doc_id)


def update_token(doc_id: int) -> str:
    return "zz" + letters(doc_id)


class TextModel:
    """Seeded vocabulary plus Zipf word sampler."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0])
        onset = list("bcdfghjklmnprstvwz") + ["br", "ch", "cr", "dr", "gr", "pl", "sh", "st", "th", "tr"]
        vowel = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
        coda = ["", "", "", "n", "r", "s", "l", "m", "t", "nd", "st"]
        words = list(STOP_WORDS)
        seen = set(words)
        while len(words) < VOCAB_SIZE:
            n_syl = int(rng.integers(1, 4))
            w = "".join(
                onset[rng.integers(len(onset))]
                + vowel[rng.integers(len(vowel))]
                + coda[rng.integers(len(coda))]
                for _ in range(n_syl)
            )
            # qq/zz prefixes are reserved for serial and update tokens
            if len(w) >= 3 and w not in seen and w[:2] not in ("qq", "zz"):
                seen.add(w)
                words.append(w)
        self.vocab = np.array(words, dtype=object)
        ranks = np.arange(VOCAB_SIZE, dtype=np.float64)
        p = 1.0 / np.power(ranks + ZIPF_Q, ZIPF_S)
        self.p = p / p.sum()
        pc = p[CONTENT_FROM:]
        self.p_content = pc / pc.sum()

    def words(self, rng, n: int) -> list[str]:
        return list(self.vocab[rng.choice(VOCAB_SIZE, size=n, p=self.p)])

    def content_words(self, rng, n: int, lo_rank: int = 0) -> list[str]:
        """Zipf draws over non-stop-word terms, skipping the first ``lo_rank``."""
        pc = self.p_content[lo_rank:]
        idx = rng.choice(len(pc), size=n, p=pc / pc.sum())
        return list(self.vocab[CONTENT_FROM + lo_rank + idx])

    def document(self, rng, doc_id: int, n_words: int) -> str:
        ws = self.words(rng, n_words)
        ws.insert(int(rng.integers(0, min(8, n_words))), serial_token(doc_id))
        paras, sents, i = [], [], 0
        while i < len(ws):
            k = int(rng.integers(6, 19))
            s = " ".join(ws[i:i + k])
            sents.append(s[:1].upper() + s[1:] + ".")
            i += k
            if len(sents) >= int(rng.integers(4, 8)):
                paras.append(" ".join(sents))
                sents = []
        if sents:
            paras.append(" ".join(sents))
        return "\n\n".join(paras)


def doc_lengths(rng, n: int, median_words: int) -> np.ndarray:
    """Lognormal lengths, rescaled so every seed's corpus has the same total
    word count: seeds then differ in text, not in the amount of work."""
    x = np.clip(rng.lognormal(mean=np.log(median_words), sigma=0.5, size=n), median_words // 4, median_words * 5)
    x *= n * median_words * np.exp(0.125) / x.sum()
    return np.maximum(x, 8).astype(int)


def make_corpus(seed: int, n_docs: int, median_words: int = 700, salt: int = 1) -> list[tuple[int, str]]:
    tm = TextModel(seed)
    rng = np.random.default_rng([seed, salt])
    lens = doc_lengths(rng, n_docs, median_words)
    return [(i, tm.document(rng, i, int(lens[i]))) for i in range(n_docs)]


def write_corpus(rows: list[tuple[int, str]], out_dir: str, n_files: int) -> list[str]:
    """Spread ``rows`` over ``n_files`` parquet files (contiguous id ranges)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per:(f + 1) * per]
        if not part:
            break
        t = pa.table({
            "doc_id": pa.array([r[0] for r in part], pa.int64()),
            "text": pa.array([r[1] for r in part], pa.string()),
        })
        p = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(t, p, compression="snappy")
        paths.append(p)
    return paths


ROUND = ("plain", "websearch", "plain", "plain", "batch")


def make_queries(seed: int, n_rounds: int) -> list[dict]:
    """Seeded read-mix request stream: ``n_rounds`` rounds of three
    plain single queries, one websearch single query and one batch, in that
    fixed order (so every run sees the same request mix).

    Entries are ``{"kind": "single", "text", "websearch"}`` or
    ``{"kind": "batch", "queries": [(qid, text), ...]}``. Query terms are
    Zipf draws over content words; the shape of each query is fixed by its
    place in the stream, so every seed sends the same mix: the plain queries
    of a round have 1, 2 and 3 terms, and the websearch query of round r
    carries a negation, an OR group or a quoted phrase (r mod 3)."""
    tm = TextModel(seed)
    rng = np.random.default_rng([seed, 2])
    ops, qid = [], 0

    def plain(n_terms):
        return " ".join(tm.content_words(rng, n_terms))

    for rnd in range(n_rounds):
        n_plain = 0
        for kind in ROUND:
            if kind == "plain":
                n_plain += 1
                ops.append({"kind": "single", "text": plain(n_plain), "websearch": False})
            elif kind == "websearch":
                a, b, c = tm.content_words(rng, 3)
                text = (f"{a} {b} -{c}", f"{a} OR {b} {c}", f'"{a} {b}" {c}')[rnd % 3]
                ops.append({"kind": "single", "text": text, "websearch": True})
            else:
                qs = []
                for k in range(BATCH_SIZE):
                    qs.append((qid, plain(1 + k % 3)))
                    qid += 1
                ops.append({"kind": "batch", "queries": qs})
    return ops


def make_update_batch(seed: int, corpus: list[tuple[int, str]]) -> dict:
    """One wave's changes: UPDATE_FRAC of the docs updated, DELETE_FRAC deleted.

    An update appends one sentence carrying ``update_token(id)`` to the
    document, so its earlier chunks keep their text (and their embeddings
    come from the cache). Returns ``{"upserts": [(id, text)], "deletes": [id]}``."""
    tm = TextModel(seed)
    rng = np.random.default_rng([seed, 3])
    texts = dict(corpus)
    n_up = max(1, round(UPDATE_FRAC * len(corpus)))
    n_del = max(1, round(DELETE_FRAC * len(corpus)))
    pick = rng.choice(np.array(sorted(texts)), size=n_up + n_del, replace=False)
    upserts = []
    for i in sorted(int(x) for x in pick[:n_up]):
        extra = " ".join(tm.words(rng, int(rng.integers(5, 12))))
        upserts.append((i, texts[i] + f" Update {update_token(i)} {extra}."))
    return {"upserts": upserts, "deletes": sorted(int(x) for x in pick[n_up:])}


def make_curate_inputs(seed: int, n_base: int) -> dict:
    """Curation corpus with known injected exact duplicates, near-duplicates
    (NEAR_SUB of their words substituted) and contaminated documents (one
    blocklisted passage spliced in), plus the blocklist of passage 3-gram
    shingles."""
    tm = TextModel(seed)
    rng = np.random.default_rng([seed, 4])
    base = make_corpus(seed, n_base, CURATE_MEDIAN_WORDS, salt=5)
    passages = [tm.content_words(rng, 10, lo_rank=300) for _ in range(N_PASSAGES)]
    texts = dict(base)
    n_ex = max(2, round(EXACT_FRAC * n_base))
    n_nd = max(2, round(NEAR_FRAC * n_base))
    n_ct = max(2, round(CONTAM_FRAC * n_base))
    srcs = rng.choice(n_base, size=n_ex + n_nd + n_ct, replace=False)
    ex_src, nd_src, ct_ids = srcs[:n_ex], srcs[n_ex:n_ex + n_nd], srcs[n_ex + n_nd:]
    contaminated = []
    for j, i in enumerate(sorted(int(x) for x in ct_ids)):
        ws = texts[i].split(" ")
        at = int(rng.integers(1, len(ws)))
        texts[i] = " ".join(ws[:at] + passages[j % N_PASSAGES] + ws[at:])
        contaminated.append(i)
    rows = [(i, texts[i]) for i in range(n_base)]
    next_id = n_base
    exact = []
    for i in ex_src:
        rows.append((next_id, texts[int(i)]))
        exact.append(next_id)
        next_id += 1
    near = []
    for i in nd_src:
        ws = texts[int(i)].split(" ")
        n_sub = max(1, round(len(ws) * NEAR_SUB))
        for k in rng.choice(len(ws), size=n_sub, replace=False):
            ws[int(k)] = tm.words(rng, 1)[0]
        rows.append((next_id, " ".join(ws)))
        near.append(next_id)
        next_id += 1
    shingles = sorted({
        " ".join(p[k:k + 3]) for p in passages for k in range(len(p) - 2)
    })
    return {
        "docs": rows,
        "blocklist": shingles,
        "exact": sorted(exact),
        "near": sorted(near),
        "contaminated": contaminated,
    }


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write_all(seed: int, out_dir: str, sizes: dict) -> str:
    """Write every workload's inputs under ``out_dir``; returns their digest."""
    import json

    corpus = make_corpus(seed, sizes["docs"])
    write_corpus(corpus, os.path.join(out_dir, "corpus"), sizes["files"])
    with open(os.path.join(out_dir, "queries.json"), "w") as fh:
        json.dump(make_queries(seed, sizes["query_rounds"]), fh)
    with open(os.path.join(out_dir, "update.json"), "w") as fh:
        json.dump(make_update_batch(seed, corpus), fh)
    cur = make_curate_inputs(seed, sizes["curate_docs"])
    write_corpus(cur.pop("docs"), os.path.join(out_dir, "curate"), sizes["files"])
    with open(os.path.join(out_dir, "curate_truth.json"), "w") as fh:
        json.dump(cur, fh)
    return tree_digest(out_dir)


def _check(base: str) -> int:
    """Same seed -> byte-identical inputs; different seed -> different."""
    sizes = {"docs": 60, "files": 3, "query_rounds": 6, "curate_docs": 60}
    a = write_all(7, os.path.join(base, "a"), sizes)
    b = write_all(7, os.path.join(base, "b"), sizes)
    c = write_all(8, os.path.join(base, "c"), sizes)
    ok = a == b and a != c
    print(f"seed 7: {a[:16]} / {b[:16]}; seed 8: {c[:16]} -> {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    if sys.argv[1:] == ["--check"]:
        import shutil
        import tempfile

        root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="gencheck-", dir=root)
        try:
            sys.exit(_check(tmp))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print("usage: python3 perfbench/gen.py --check", file=sys.stderr)
    sys.exit(2)
