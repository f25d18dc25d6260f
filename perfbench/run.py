"""Knowledge-backend benchmark: one workload per invocation.

    python3 perfbench/run.py --workload update --seed 1 --seconds 5 --trace 0

Workloads (see workloads.py): update, curate. Runs the engine on Spark
``local[4]`` in this process with one client thread, on inputs generated
from ``--seed`` under ``.perfbench_work/`` in the checkout (removed at exit). Prints one line per named metric, then, as
the last line, one JSON object: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of ``layers.PER_LAYER`` (the traced
run also writes its spans to ``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"

# name, unit of the end-to-end metrics; BENCHMARK.json holds their bounds
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("work_per_s", "1/s"),
]


def peak_rss_mb(spark) -> float:
    """High-water resident memory of this process plus the Spark JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def start_spark(workload: str, work: str, trace: bool):
    from connapse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"perfbench-{workload}", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "connapse_spark", "session.py")):
        print(f"engine sources not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, workloads) -> int:
    import layers
    import tracing

    trace = bool(args.trace)
    steal0 = tracing.cpu_times()
    spark = start_spark(args.workload, work, trace)
    try:
        tracer = tracing.Tracer(spark.sparkContext, enabled=trace)
        restore = tracing.instrument(tracer) if trace else None
        tracing.sentinel_ms(spark)  # warm-up
        sentinel = [tracing.sentinel_ms(spark)]
        r = workloads.Run(spark, tracer, work, args.seed, args.seconds, trace)
        workloads.WORKLOADS[args.workload](r)
        tracer.enabled = False
        leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
        spark.catalog.clearCache()
        sentinel.append(tracing.sentinel_ms(spark))
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    steal = tracing.steal_pct(steal0, tracing.cpu_times())
    if restore is not None:
        restore()

    e2e = {
        "setup_s": statistics.median(r.setup_s),
        "op_p50_ms": statistics.median(r.samples["op_ms"]),
        "work_per_s": r.samples["work_per_s"][0],
    }
    host = {"host.steal_pct": steal, "host.sentinel_ms": statistics.median(sentinel),
            "spark.persisted_rdds_leaked": leaked}

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for name, unit in END_TO_END:
        print(f"{name} {fmt(e2e[name])} {unit}")
    print(f"peak_rss_mb {rss:.1f} MB  (this process + the Spark JVM)")
    for name, (v, unit, note) in r.detail.items():
        print(f"{name} {fmt(v)} {unit}  ({note})")
    print(f"setup_runs {len(r.setup_s)}  ({', '.join(f'{x:.3f}' for x in r.setup_s)} s)")
    print(f"failed_frac {fmt(r.failed / max(1, r.attempted))} ratio  ({r.failed} of {r.attempted} ops and checks)")
    print(f"checks {sum(ok for _, ok, _ in r.checks)}/{len(r.checks)} passed")
    print(f"host steal {steal:.2f}% sentinel {statistics.median(sentinel):.1f} ms "
          f"(start {sentinel[0]:.1f}, end {sentinel[1]:.1f}); persisted RDDs leaked {leaked}")

    if trace:
        jobs, stages = tracing.parse_event_log(os.path.join(work, "eventlog"))
        metrics = layers.compute(r, tracer, tracing.SparkProfile(jobs, stages), host)
        out_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
        self_s: dict = {}
        for sp in tracer.spans:
            layer = sp.name.split(".")[0]
            self_s[layer] = self_s.get(layer, 0.0) + tracer.self_time(sp)
        for layer, v in sorted(self_s.items()):
            print(f"self_s.{layer} {v:.4f} s  (span time not covered by child spans)")
        units = {name: unit for name, unit, *_ in layers.PER_LAYER}
        for name, v in metrics.items():
            print(f"{name} {fmt(v)} {units[name]}")
    else:
        metrics = e2e
        units = dict(END_TO_END)

    result = {
        "correct": all(ok for _, ok, _ in r.checks) and r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
