"""The benchmark's workloads. Each drives the engine only through its public
API, on inputs from ``gen.py``:

- ``update``: serving beside writes. Set-up builds the serving layout of a
  generated corpus with ``ingest_serving`` and reopens it with
  ``load_serving``. Then a closed-loop read mix against that cut (single
  ``hybrid_search`` queries, plain and websearch syntax, and 20-query
  ``hybrid_search_many_fast`` batches), one ``ingest_serving_incremental``
  wave (1.5% of docs updated, 0.3% deleted), ``load_serving`` of the new
  cut, freshness queries, and the read mix again against the new cut.
- ``curate``: ``curate.curate`` over a corpus with injected exact
  duplicates, near-duplicates and contaminated documents; it touches no
  serving layer, so it is the control for serving changes.

Every timed operation runs after ``spark.catalog.clearCache()``, and every
layout is built into a fresh directory, so no operation reads state an
earlier one left persisted. In a traced run, timed operations alternate
between traced and untraced, so the tracing overhead is measured in the same
run on the same request mix.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen

# lognormal lengths around 700 words give ~2 chunks per doc (512-token
# windows), ~430 chunks in all: the reference IVF lists policy (rows/1000)
# then builds one list, so every probe scans the whole index and recall@10
# is 1. Pruning starts at ~5,000 chunks, whose build (a KMeans fit of
# several Spark jobs per iteration) and slower waves and queries do not fit
# the run budget.
UPDATE_DOCS = 200
CURATE_DOCS = 300
CORPUS_FILES = 8
TOP_K = 10
RECALL_QUERIES = 2
AGREE_QUERIES = 2
FRESH_CHECKS = 2
PROBE_SAMPLES = 5
# reads and curate passes keep speeding up over their first runs (JIT, and
# for reads the new cut's first scans), so the first ones run untimed; at
# least two read rounds and three timed curate passes give the medians
SETUP_LOADS = 3
CURATE_WARMUP_PASSES = 2
CURATE_MIN_PASSES = 3
# MinHash-LSH (32 hashes, 8 bands) flags a few unrelated generated docs as
# near-duplicates of each other, and misses a few injected pairs of exact
# Jaccard ~0.85: up to 2% of the base corpus flagged, and at least 80% of the
# injected near-duplicates recovered, are tolerated
FALSE_DUP_MAX = 0.02
NEAR_RECALL_MIN = 0.8


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    trace: bool
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)  # (name, ok, detail)
    samples: dict = field(default_factory=dict)  # name -> list of values
    detail: dict = field(default_factory=dict)  # named metric -> (value, unit, note)
    layer: dict = field(default_factory=dict)  # per-layer inputs (traced run)
    setup_s: list = field(default_factory=list)
    op_spans: list = field(default_factory=list)

    def add(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.checks.append((name, bool(ok), detail))
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def op(self, name: str, fn, k: int | None = None):
        """Run timed operation number ``k`` of the workload (None: an
        auxiliary one, traced whenever the run is; otherwise odd ``k`` are
        traced). A raised exception counts as a failure. Returns (result or
        None, seconds)."""
        self.spark.catalog.clearCache()
        traced = self.trace and (k is None or k % 2 == 1)
        self.tracer.enabled = traced
        self.attempted += 1
        try:
            with self.tracer.span(name) as sp:
                t = time.perf_counter()
                try:
                    out = fn()
                except Exception:
                    self.failed += 1
                    traceback.print_exc(file=sys.stderr)
                    out = None
                dt = time.perf_counter() - t
        finally:
            self.tracer.enabled = self.trace
        if k is not None and out is not None:
            self.add("op_ms", dt * 1000)
            self.add("op_traced", traced)
            if sp is not None:
                self.op_spans.append(sp)
        return out, dt


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def text_bytes(rows) -> int:
    return sum(len(t.encode()) for _, t in rows)


def load_corpus(run: Run, name: str, rows):
    d = os.path.join(run.work, name)
    gen.write_corpus(rows, d, CORPUS_FILES)
    df = run.spark.read.parquet(d)
    df.count()
    return df


def set_up_layout(run: Run, n_docs: int):
    """Build the serving layout of a generated corpus and reopen it with
    load_serving: the update workload's timed set-up (the corpus is
    generated and opened in Spark before the timer starts). It is the first
    build in the process, so JIT compilation and Python worker start-up are
    included, as every new serving process pays them. Returns (rows, base,
    cut)."""
    from connapse_spark.operators import ingest

    rows = gen.make_corpus(run.seed, n_docs)
    docs = load_corpus(run, "corpus", rows)
    base = os.path.join(run.work, "layout")
    t = time.perf_counter()
    with run.tracer.span("ingest.ingest_serving") as sp:
        out = ingest.ingest_serving(docs, base)
        out["chunks"].unpersist()
        out["vectors"].unpersist()
    build_s = time.perf_counter() - t
    with run.tracer.span("ingest.load_serving"):
        cut = ingest.load_serving(run.spark, base)
    run.setup_s.append(time.perf_counter() - t)
    mb = text_bytes(rows) / 1e6
    layout_bytes = dir_bytes(base)
    if sp is not None:
        run.layer["build_span"] = sp
        run.layer["snapshots.bytes_written"] = layout_bytes
    run.detail["ingest_mb_per_s"] = (mb / build_s, "MB/s", f"first build in the process: {n_docs} docs, {mb:.2f} MB")
    run.detail["store_bytes_per_text_byte"] = (layout_bytes / (mb * 1e6), "B/B", "layout on disk after the build")
    run.spark.catalog.clearCache()
    return rows, base, cut


def served_corpus(run: Run, base: str):
    from pyspark.sql import functions as F

    from connapse_spark.sources import snapshots

    chunks = snapshots.read_snapshot(run.spark, os.path.join(base, "chunks"))
    return chunks.select(F.col("chunk_id").alias("doc_id"), F.col("content").alias("text"))


# ---------------------------------------------------------------------------
# reads
# ---------------------------------------------------------------------------


def single_query(run: Run, corpus, cut, text: str, websearch: bool = False, mode: str = "Hybrid"):
    from connapse_spark.operators import search

    with run.tracer.span("search.plan"):
        df = search.hybrid_search(
            corpus, text, search.SearchOptions(top_k=TOP_K, websearch=websearch, mode=mode),
            keyword_index=cut["keyword_index"], vector_index=cut["vector_index"],
        )
    with run.tracer.span("search.exec"):
        return [(r["id"], r["score"]) for r in df.collect()]


def batch_query(run: Run, corpus, cut, queries):
    from connapse_spark.operators import search

    with run.tracer.span("search.plan"):
        df = search.hybrid_search_many_fast(
            corpus, [tuple(q) for q in queries], top_k=TOP_K,
            tf_postings=cut["tf_postings"], vector_index=cut["vector_index"],
            stem_fn=cut["stem_fn"],
        )
    with run.tracer.span("search.exec"):
        rows = df.collect()
    out: dict = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    return out


def warm_up_reads(run: Run, corpus, cut, ops) -> None:
    """One untimed single query and one untimed batch from the last round of
    the request stream (which the timed loop never reaches), so JIT
    compilation and the new cut's first scans of every serving table are paid
    untimed."""
    for op in (ops[-len(gen.ROUND)], ops[-1]):
        if op["kind"] == "single":
            single_query(run, corpus, cut, op["text"], op["websearch"])
        else:
            batch_query(run, corpus, cut, op["queries"])


def read_mix(run: Run, corpus, cut, ops, first: int = 0):
    """Closed loop, one client: send the request stream in whole rounds
    (gen.ROUND), from round ``first``, until half of ``seconds`` has passed
    and at least one round completed (the update workload reads in two such
    phases). Single-query latencies are the timed ops; each round's wall time
    goes to ``round_s``. Returns the last batch's (queries, results) and the
    next unread round."""
    t_end = time.perf_counter() + run.seconds / 2
    last_batch, t_round = None, None
    n = len(gen.ROUND)
    for j in range(first * n, len(ops)):
        op = ops[j]
        rnd, pos = divmod(j, n)
        if pos == 0:
            now = time.perf_counter()
            if t_round is not None:
                run.add("round_s", now - t_round)
            if rnd > first and now >= t_end:
                return last_batch, rnd
            t_round = now
        if op["kind"] == "single":
            # a traced run traces a request when round + position is odd: over
            # two rounds both halves see the same mix, interleaved in time
            run.op("read.query", lambda: single_query(run, corpus, cut, op["text"], op["websearch"]), rnd + pos)
        else:
            out, dt = run.op("read.batch", lambda: batch_query(run, corpus, cut, op["queries"]))
            if out is not None:
                run.add("batch_s", dt)
                last_batch = (op["queries"], out)
    raise RuntimeError("the request stream ran out")


def rankings_agree(a, b, tol: float = 1e-9) -> bool:
    """Same ids in the same order, except that ids whose scores tie within
    ``tol`` may swap places."""
    if len(a) != len(b) or any(abs(x[1] - y[1]) > tol for x, y in zip(a, b)):
        return False
    return _tie_groups(a, tol) == _tie_groups(b, tol)


def _tie_groups(hits, tol):
    out, cur, last = [], set(), None
    for i, s in hits:
        if last is not None and abs(s - last) > tol:
            out.append(cur)
            cur = set()
        cur.add(i)
        last = s
    return out + [cur]


def read_checks(run: Run, corpus, cut, base: str, ops, last_batch) -> None:
    """Batch and single rankings agree. Also reports the IVF-served semantic
    recall@10 against exact KNN; it is not a check, because with one IVF list
    (see UPDATE_DOCS) it cannot fall below 1."""
    from pyspark.sql import functions as F

    from connapse_spark.functions.embed import embed_py
    from connapse_spark.operators import search
    from connapse_spark.sources import snapshots

    queries, got = last_batch
    for qid, text in queries[:AGREE_QUERIES]:
        single = single_query(run, corpus, cut, text)
        run.check("batch_single_agree", rankings_agree(got.get(qid, []), single),
                  f"query {text!r}: batch {got.get(qid)} single {single}")
    vecs = snapshots.read_snapshot(run.spark, os.path.join(base, "chunk_vectors")).select(
        F.col("chunk_id").alias("id"), "embedding")
    texts = [o["text"] for o in ops if o["kind"] == "single" and not o["websearch"]][:RECALL_QUERIES]
    recalls = []
    for text in texts:
        exact = {r["id"] for r in search.vector_knn(vecs, embed_py(text, 64), k=TOP_K, id_col="id").collect()}
        ann = {i for i, _ in single_query(run, corpus, cut, text, mode="Semantic")}
        recalls.append(len(exact & ann) / max(1, len(exact)))
    recall = statistics.mean(recalls)
    run.detail["recall_at_10"] = (recall, "ratio", f"IVF semantic top-10 vs exact KNN, {len(recalls)} queries")
    run.layer["ivf.recall_at_10"] = recall


def index_layer_stats(run: Run, corpus, cut, query_sets: list[list[str]]) -> None:
    """IVF list balance and the share of index rows each request's probe
    scans; keyword postings size and keyword-only probe latency."""
    from pyspark.sql import functions as F

    from connapse_spark.functions.embed import embed_py
    from connapse_spark.plans import ivf

    vidx = cut["vector_index"]
    sizes = {r["list_id"]: r["n"] for r in vidx.index.groupBy("list_id").agg(F.count("*").alias("n")).collect()}
    total = sum(sizes.values())
    run.layer["ivf.list_max_over_mean"] = max(sizes.values()) / (total / len(sizes))
    fracs = []
    for texts in query_sets:
        probes = ivf.probe_list_ids_many(vidx.centroids, [embed_py(t, 64) for t in texts], vidx.nprobe)
        lists = {int(lid) for p in probes for lid in p}
        fracs.append(sum(sizes.get(lid, 0) for lid in lists) / total)
    run.layer["ivf.probe_scan_frac"] = statistics.median(fracs)
    tfe, tfs = cut["tf_postings"]
    run.layer["keyword_index.postings_rows"] = tfe.count() + tfs.count()
    ms = []
    for texts in query_sets[:PROBE_SAMPLES]:
        t = time.perf_counter()
        single_query(run, corpus, cut, texts[0], mode="Keyword")
        ms.append((time.perf_counter() - t) * 1000)
    run.layer["keyword_index.probe_ms"] = statistics.median(ms)


# ---------------------------------------------------------------------------
# update
# ---------------------------------------------------------------------------


def wave_layer_stats(run: Run, base: str, cut_before: dict, out: dict) -> None:
    """Share of the chunk table's files the wave rewrote, and the share of
    the wave's vectors served from the embedding cache."""
    from pyspark.sql import functions as F

    from connapse_spark.sources import snapshots

    def files(v):
        m = snapshots.load_manifest(os.path.join(base, "chunks"), v)
        return {e["path"] if isinstance(e, dict) else e for e in m["files"]}

    old, new = files(cut_before["tables"]["chunks"]), files(out["chunks_version"])
    run.layer["snapshots.files_rewritten_ratio"] = len(old - new) / max(1, len(old))
    r = out["vectors"].agg(F.sum(F.col("from_cache").cast("int")).alias("hit"), F.count("*").alias("n")).first()
    run.layer["embed.cache_hit_ratio"] = (r["hit"] or 0) / max(1, r["n"])


def keyword_hits(run: Run, corpus, cut, token: str):
    return single_query(run, corpus, cut, token, mode="Keyword")


def update(run: Run) -> None:
    from connapse_spark.operators import ingest

    rows, base, cut = set_up_layout(run, UPDATE_DOCS)
    ops = gen.make_queries(run.seed, 200)
    # the read mix runs in two phases, on the set-up cut before the wave and
    # on the new cut after it: host contention comes in bursts of ~10-30 s,
    # which then shift part of the samples, not all of them
    corpus = served_corpus(run, base)
    warm_up_reads(run, corpus, cut, ops)
    _, next_round = read_mix(run, corpus, cut, ops)
    b = gen.make_update_batch(run.seed, rows)
    frame = run.spark.createDataFrame(b["upserts"], "doc_id long, text string")
    out, wave_s = run.op("update.wave", lambda: ingest.ingest_serving_incremental(
        frame, base, deleted_doc_ids=b["deletes"]))
    if out is None:
        raise RuntimeError("the update wave failed")
    if run.trace:
        wave_layer_stats(run, base, cut, out)
    out["chunks"].unpersist()
    out["vectors"].unpersist()
    live = dict(rows)
    live.update(dict(b["upserts"]))
    for i in b["deletes"]:
        live.pop(i)
    with run.tracer.span("ingest.load_serving"):
        cut = ingest.load_serving(run.spark, base)
    corpus = served_corpus(run, base)
    fresh = []
    for i, _ in b["upserts"][:FRESH_CHECKS]:
        tok = gen.update_token(i)
        hits, dt = run.op("update.fresh_query", lambda: keyword_hits(run, corpus, cut, tok))
        fresh.append(dt * 1000)
        run.check("update_visible", hits is not None and any(str(h).startswith(f"{i}:") for h, _ in hits),
                  f"token {tok} of updated doc {i} not served")
    for i in b["deletes"][:FRESH_CHECKS]:
        tok = gen.serial_token(i)
        hits, dt = run.op("update.fresh_query", lambda: keyword_hits(run, corpus, cut, tok))
        fresh.append(dt * 1000)
        run.check("delete_absent", hits is not None and not any(str(h).startswith(f"{i}:") for h, _ in hits),
                  f"deleted doc {i} still served")
    warm_up_reads(run, corpus, cut, ops)
    last_batch, _ = read_mix(run, corpus, cut, ops, next_round)
    # one wave followed by one round of the read mix, its time the median
    # round's: whole rounds keep the share of (fast) batched queries fixed
    per_round = sum(1 if o["kind"] == "single" else len(o["queries"]) for o in ops[:len(gen.ROUND)])
    changed = len(b["upserts"]) + len(b["deletes"])
    run.samples["work_per_s"] = [(changed + per_round) / (wave_s + statistics.median(run.samples["round_s"]))]

    q = run.samples["op_ms"]
    bs = run.samples.get("batch_s", [])
    run.detail["wave_s"] = (wave_s, "s", f"one wave: {len(b['upserts'])} docs updated, {len(b['deletes'])} deleted")
    run.detail["fresh_query_p50_ms"] = (statistics.median(fresh), "ms", f"n={len(fresh)} freshness queries")
    run.detail["store_bytes_per_text_byte_after_wave"] = (
        dir_bytes(base) / text_bytes(live.items()), "B/B", "layout on disk after the wave")
    run.detail["query_p50_ms"] = (statistics.median(q), "ms", f"single queries, n={len(q)}: "
                                  + ", ".join(f"{x:.0f}" for x in q))
    report_tail(run, "query", q, "ms")
    run.detail["batch_qps"] = (gen.BATCH_SIZE * len(bs) / sum(bs), "1/s", f"{len(bs)} batches of {gen.BATCH_SIZE}")
    read_checks(run, corpus, cut, base, ops, last_batch)
    if run.trace:
        sets = [[o["text"]] if o["kind"] == "single" else [t for _, t in o["queries"]] for o in ops[:40]]
        index_layer_stats(run, corpus, cut, sets)


def report_tail(run: Run, name: str, xs: list, unit: str) -> None:
    """The highest of p90/p99/p99.9 that has at least ten samples beyond it,
    or the max with the sample count when none has."""
    best = None
    for p, label in ((0.9, "p90"), (0.99, "p99"), (0.999, "p999")):
        if len(xs) * (1 - p) >= 10:
            best = (p, label)
    if best is None:
        run.detail[f"{name}_max_{unit}"] = (max(xs), unit, f"n={len(xs)}: no percentile has 10 samples beyond it")
        return
    v = statistics.quantiles(xs, n=1000, method="inclusive")[round(best[0] * 1000) - 1]
    run.detail[f"{name}_{best[1]}_{unit}"] = (v, unit, f"n={len(xs)}")


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def curate_layer_stats(run: Run, docs, bl) -> None:
    """Each curation stage called on its own: MinHash-LSH pairs, the Gopher
    gate, exact dedup and the contamination screen; plus the share of LSH
    candidate pairs that verification keeps."""
    from pyspark.sql import functions as F

    from connapse_spark.operators import dedup, textstats

    def timed(name, fn):
        run.spark.catalog.clearCache()
        with run.tracer.span(name):
            t = time.perf_counter()
            out = fn()
            run.layer[name] = time.perf_counter() - t
        return out

    verified = timed("dedup.minhash_s", lambda: dedup.minhash_lsh_pairs(docs).count())
    timed("textstats.gopher_s", lambda: textstats.gopher_filter(docs).agg(
        F.sum(F.col("keep").cast("int"))).first())
    timed("dedup.exact_s", lambda: dedup.exact_dedup(docs).agg(
        F.sum(F.col("is_kept").cast("int"))).first())
    timed("dedup.contamination_s", lambda: dedup.contamination_check(docs, bl).agg(
        F.sum(F.col("n_hits"))).first())
    b = dedup.minhash_banded(docs)
    a, c = b.alias("a"), b.alias("c")
    cand = a.join(c, (F.col("a.band") == F.col("c.band")) & (F.col("a.key") == F.col("c.key"))
                  & (F.col("a.id") < F.col("c.id"))).select("a.id", "c.id").distinct().count()
    run.layer["dedup.pair_precision"] = verified / cand if cand else 1.0


def curate(run: Run) -> None:
    from connapse_spark.operators import curate as cur

    inputs = gen.make_curate_inputs(run.seed, CURATE_DOCS)
    path = os.path.join(run.work, "curate")
    gen.write_corpus(inputs["docs"], path, CORPUS_FILES)
    # set-up: open the generated corpus and blocklist in Spark (median of
    # SETUP_LOADS loads)
    for _ in range(SETUP_LOADS):
        run.spark.catalog.clearCache()
        t = time.perf_counter()
        docs = run.spark.read.parquet(path)
        docs.count()
        bl = run.spark.createDataFrame([(s,) for s in inputs["blocklist"]], "s string")
        bl.count()
        run.setup_s.append(time.perf_counter() - t)
    for _ in range(CURATE_WARMUP_PASSES):
        cur.curate(docs, bl).collect()
    t_end = time.perf_counter() + run.seconds
    verdict, k = None, 0
    while time.perf_counter() < t_end or k < CURATE_MIN_PASSES:
        out, _ = run.op("curate.curate", lambda: cur.curate(docs, bl).collect(), k)
        k += 1
        verdict = out if out is not None else verdict
    c = [x / 1000 for x in run.samples.get("op_ms", [])]
    mb = text_bytes(inputs["docs"]) / 1e6
    if not c:
        raise RuntimeError("no curate pass succeeded")
    run.samples["work_per_s"] = [len(inputs["docs"]) / statistics.median(c)]
    run.detail["curate_mb_per_s"] = (mb / statistics.median(c), "MB/s", f"median of {len(c)} passes over {mb:.2f} MB: "
                                     + ", ".join(f"{x:.2f}" for x in c) + " s")
    reason = {r["id"]: r["reason"] for r in verdict}
    run.check("curate_exact_recovered", all(reason.get(i) == "exact_duplicate" for i in inputs["exact"]),
              f"exact dups: {[reason.get(i) for i in inputs['exact']]}")
    near_hit = sum(reason.get(i) == "near_duplicate" for i in inputs["near"]) / len(inputs["near"])
    run.check("curate_near_recovered", near_hit >= NEAR_RECALL_MIN, f"near-dup recall {near_hit:.2f}")
    injected = set(inputs["exact"]) | set(inputs["near"])
    false_dup = [i for i, r in reason.items() if r in ("exact_duplicate", "near_duplicate") and i not in injected]
    run.check("curate_few_false_dups", len(false_dup) <= FALSE_DUP_MAX * CURATE_DOCS,
              f"flagged as duplicates: {false_dup[:10]}")
    run.check("curate_contaminated", all(reason.get(i) == "contaminated" for i in inputs["contaminated"]),
              f"contaminated: {[reason.get(i) for i in inputs['contaminated']]}")
    if run.trace:
        curate_layer_stats(run, docs, bl)


WORKLOADS = {"update": update, "curate": curate}
