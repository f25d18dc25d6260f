"""Regenerate the full plan census: the formatted physical plan of every
registry query (plans/rNN/census/<q>.txt) plus a node-count summary
(census_summary.json) in the r11 format — the judge's cross-cutting
plan-shape evidence (zero BatchEvalPython / CartesianProduct, Exchange
counts, etc.).

Usage: python tools/census.py OUTDIR     (e.g. plans/r12)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NODE_KEYS = {
    "exchange": r"(?<!Broadcast)Exchange ",
    "bcast_exchange": r"BroadcastExchange",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
    "shj": r"ShuffledHashJoin",
    "cartesian": r"CartesianProduct",
    "batch_eval_python": r"BatchEvalPython",
    "arrow_eval_python": r"ArrowEvalPython",
    "map_in_pandas": r"MapInPandas|MapInArrow|FlatMapGroupsInPandas",
    "expand": r"\bExpand\b",
    "window": r"\bWindow\b",
    "sort_agg": r"SortAggregate",
    "obj_hash_agg": r"ObjectHashAggregate",
    # one per file-source scan node (its "(n) Scan <format>" detail
    # header), so a query that re-reads the corpus shows a count > 1
    "file_scan": r"(?m)^\(\d+\) Scan (?:parquet|orc|json|csv|text|avro|binaryFile)\b",
}


def main() -> None:
    outdir = sys.argv[1]
    census_dir = os.path.join(outdir, "census")
    os.makedirs(census_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    import __spark_entry__ as entry_mod
    from connapse_spark.session import get_spark
    from tools.plan_dump import plan_text

    spark = get_spark(
        app_name="census", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    spark.sparkContext.setLogLevel("ERROR")
    summary: dict = {}
    for name, fn in sorted(entry_mod.queries().items()):
        t0 = time.time()
        try:
            txt = plan_text(fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover - census is evidence tooling
            summary[name] = {"_error": str(e)[:200]}
            continue
        with open(os.path.join(census_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        row = {"_bytes": len(txt), "_secs": round(time.time() - t0, 2)}
        for key, pat in NODE_KEYS.items():
            c = len(re.findall(pat, txt))
            if c:
                row[key] = c
        summary[name] = row
        print(f"# {name}: {row}", file=sys.stderr, flush=True)
    with open(os.path.join(outdir, "census_summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"wrote {len(summary)} census entries to {outdir}")
    spark.stop()


if __name__ == "__main__":
    main()
