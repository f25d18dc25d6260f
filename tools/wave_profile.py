"""Spark jobs, stages and seconds of one incremental serving wave, per
snapshot, keyword and IVF call.

    python tools/wave_profile.py [--seed 5] [--docs 200] [--cpus 4]

Builds the update benchmark's serving layout (the ``perfbench/gen.py``
corpus of ``--docs`` documents, ``ingest_serving``), then runs one
``ingest_serving_incremental`` wave with that seed's update batch (1.5% of
the docs updated, 0.3% deleted) and prints one row per traced call name.

Jobs are attributed by job group through ``perfbench/tracing.instrument``:
every wrapped engine call opens a span whose id is the Spark job group
while it runs, so a job belongs to the innermost wrapped call that was
open when it was submitted. Jobs of the wave outside every wrapped call
land in the ``ingest.wave`` row. ``stages`` counts the stages that ran
tasks (skipped stages, whose shuffle output was reused, are left out);
``self_s`` is the call's wall time minus its wrapped children's.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

WAVE = "ingest.wave"


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, tasks) of one job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return len(jobs), stages, tasks


def profile(spark, tracer, wave) -> list[tuple]:
    """Per call name: (name, calls, jobs, stages, tasks, self_s, total_s)."""
    rows: dict[str, list] = {}
    for sp in [wave] + tracer.descendants(wave):
        r = rows.setdefault(sp.name, [0, 0, 0, 0, 0.0, 0.0])
        jobs, stages, tasks = job_counts(spark.sparkContext, sp.span_id)
        r[0] += 1
        r[1] += jobs
        r[2] += stages
        r[3] += tasks
        r[4] += tracer.self_time(sp)
        r[5] += sp.dur
    return [(name, *r) for name, r in rows.items()]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--docs", type=int, default=200)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--work", default=None, help="parent of the scratch layout dir")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import gen
    import tracing

    from connapse_spark.operators import ingest
    from connapse_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="wave-profile-", dir=args.work)
    spark = get_spark("wave-profile", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rows = gen.make_corpus(args.seed, args.docs)
        gen.write_corpus(rows, os.path.join(work, "corpus"), 8)
        docs = spark.read.parquet(os.path.join(work, "corpus"))
        base = os.path.join(work, "layout")
        t = time.perf_counter()
        out = ingest.ingest_serving(docs, base)
        out["chunks"].unpersist()
        out["vectors"].unpersist()
        build_s = time.perf_counter() - t
        b = gen.make_update_batch(args.seed, rows)
        frame = spark.createDataFrame(b["upserts"], "doc_id long, text string")
        spark.catalog.clearCache()

        tracer = tracing.Tracer(spark.sparkContext, enabled=True)
        restore = tracing.instrument(tracer)
        try:
            with tracer.span(WAVE) as wave:
                out = ingest.ingest_serving_incremental(
                    frame, base, deleted_doc_ids=b["deletes"]
                )
        finally:
            restore()
        out["chunks"].unpersist()
        out["vectors"].unpersist()
        table = profile(spark, tracer, wave)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(f"# seed={args.seed} docs={args.docs} local[{args.cpus}]: "
          f"{len(b['upserts'])} docs updated, {len(b['deletes'])} deleted; "
          f"build {build_s:.1f} s")
    print(f"{'call':<44} {'calls':>5} {'jobs':>5} {'stages':>6} {'tasks':>6} {'self_s':>7} {'total_s':>7}")
    for name, calls, jobs, stages, tasks, self_s, total_s in sorted(table, key=lambda r: r[0]):
        print(f"{name:<44} {calls:>5} {jobs:>5} {stages:>6} {tasks:>6} {self_s:>7.2f} {total_s:>7.2f}")
    n_jobs = sum(r[2] for r in table)
    n_stages = sum(r[3] for r in table)
    print(f"{'total':<44} {'':>5} {n_jobs:>5} {n_stages:>6} {sum(r[4] for r in table):>6} "
          f"{'':>7} {wave.dur:>7.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
