"""Plan build, planning and execution milliseconds and the Spark jobs,
stages and tasks of each served query kind.

    python tools/query_profile.py [--seed 5] [--docs 200] [--cpus 4] [--reps 10]
                                  [--wave none|overwrite|pending]

Builds the update benchmark's serving layout (the ``perfbench/gen.py``
corpus of ``--docs`` documents, ``ingest_serving``), optionally runs one
``ingest_serving_incremental`` wave with that seed's update batch in the
given ``tf_mode``, opens the cut with ``load_serving`` and serves
``--reps`` queries of each kind from the seed's request stream:

- ``plain``: ``hybrid_search`` (Hybrid mode) over the keyword and vector
  bundles;
- ``websearch``: the same with websearch syntax;
- ``keyword``: ``hybrid_search`` in Keyword mode (the benchmark's
  ``keyword_index.probe_ms`` and freshness queries);
- ``batch``: one 20-query ``hybrid_search_many_fast`` call.

Each query runs after ``spark.catalog.clearCache()``, as in the benchmark.
Per kind it prints the medians of ``build_ms`` (the Python call that
returns the DataFrame), ``plan_ms`` (Catalyst analysis, optimization and
physical planning: forcing the query's executed plan) and ``exec_ms``
(``collect()``), and the median jobs, stages that ran tasks, and tasks,
counted by job group as in ``tools/wave_profile.py``. The first two
queries of each kind warm up untimed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from wave_profile import job_counts  # noqa: E402

WARMUP = 2
KINDS = ("plain", "websearch", "keyword", "batch")


def requests(seed: int, n: int) -> dict[str, list]:
    """``n`` + WARMUP requests of each kind from the seed's request stream."""
    import gen

    out: dict[str, list] = {kind: [] for kind in KINDS}
    for op in gen.make_queries(seed, 4 * (n + WARMUP)):
        if op["kind"] == "batch":
            out["batch"].append(op["queries"])
        elif op["websearch"]:
            out["websearch"].append(op["text"])
        else:
            out["plain"].append(op["text"])
            out["keyword"].append(op["text"])
    return {kind: reqs[: n + WARMUP] for kind, reqs in out.items()}


def build(kind: str, req, corpus, cut):
    from connapse_spark.operators import search

    if kind == "batch":
        return search.hybrid_search_many_fast(
            corpus, [tuple(q) for q in req], top_k=10,
            tf_postings=cut["tf_postings"], vector_index=cut["vector_index"],
            stem_fn=cut["stem_fn"],
        )
    opts = search.SearchOptions(
        top_k=10, websearch=kind == "websearch",
        mode="Keyword" if kind == "keyword" else "Hybrid",
    )
    return search.hybrid_search(
        corpus, req, opts,
        keyword_index=cut["keyword_index"], vector_index=cut["vector_index"],
    )


def profile_kind(spark, kind: str, reqs: list, corpus, cut) -> dict:
    sc = spark.sparkContext
    rows = []
    for i, req in enumerate(reqs):
        spark.catalog.clearCache()
        group = f"query-profile-{kind}-{i}"
        sc.setJobGroup(group, kind)
        try:
            t0 = time.perf_counter()
            df = build(kind, req, corpus, cut)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.collect()
            t3 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if i >= WARMUP:
            rows.append(((t1 - t0) * 1e3, (t2 - t1) * 1e3, (t3 - t2) * 1e3,
                         *job_counts(sc, group)))
    return {
        name: statistics.median(r[j] for r in rows)
        for j, name in enumerate(("build_ms", "plan_ms", "exec_ms", "jobs", "stages", "tasks"))
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--docs", type=int, default=200)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--wave", choices=("none", "overwrite", "pending"), default="none")
    ap.add_argument("--work", default=None, help="parent of the scratch layout dir")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import gen
    from pyspark.sql import functions as F

    from connapse_spark.operators import ingest
    from connapse_spark.session import get_spark
    from connapse_spark.sources import snapshots

    work = tempfile.mkdtemp(prefix="query-profile-", dir=args.work)
    spark = get_spark("query-profile", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rows = gen.make_corpus(args.seed, args.docs)
        gen.write_corpus(rows, os.path.join(work, "corpus"), 8)
        docs = spark.read.parquet(os.path.join(work, "corpus"))
        base = os.path.join(work, "layout")
        out = ingest.ingest_serving(docs, base)
        out["chunks"].unpersist()
        out["vectors"].unpersist()
        if args.wave != "none":
            b = gen.make_update_batch(args.seed, rows)
            frame = spark.createDataFrame(b["upserts"], "doc_id long, text string")
            out = ingest.ingest_serving_incremental(
                frame, base, deleted_doc_ids=b["deletes"], tf_mode=args.wave
            )
            out["chunks"].unpersist()
            out["vectors"].unpersist()
        spark.catalog.clearCache()
        cut = ingest.load_serving(spark, base)
        corpus = snapshots.read_snapshot(
            spark, os.path.join(base, "chunks"), version=cut["tables"]["chunks"]
        ).select(F.col("chunk_id").alias("doc_id"), F.col("content").alias("text"))
        table = {
            kind: profile_kind(spark, kind, reqs, corpus, cut)
            for kind, reqs in requests(args.seed, args.reps).items()
        }
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(f"# seed={args.seed} docs={args.docs} local[{args.cpus}] wave={args.wave}: "
          f"medians over {args.reps} queries per kind")
    cols = ("build_ms", "plan_ms", "exec_ms", "jobs", "stages", "tasks")
    print(f"{'kind':<10}" + "".join(f"{c:>10}" for c in cols))
    for kind, r in table.items():
        print(f"{kind:<10}" + "".join(f"{r[c]:>10.1f}" for c in cols))
    return 0


if __name__ == "__main__":
    sys.exit(main())
