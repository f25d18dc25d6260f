"""SparkSession factory tuned for the engine.

Local testing runs on local[N] but every setting here is chosen for a real
multi-executor cluster: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any Pandas UDF boundary, and a shuffle-partition count
that callers override per data scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# largest k an orderBy(...).limit(k) plans as an in-memory top-k buffer
TOPK_SORT_FALLBACK = 1_000_000


def get_spark(
    app_name: str = "connapse-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Runtime adaptivity: coalesce tiny shuffle partitions, split skewed
        # ones, convert to broadcast joins when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        )
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small dimension tables (region/nation/centroids/query vectors)
        # should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # orderBy(...).limit(k) plans TakeOrderedAndProject, which sizes a
        # k-slot buffer per task; the default threshold (2^31-16) lets a
        # "no limit" k such as 10**9 allocate gigabytes. Above this k the
        # plan is a full sort + limit instead; small top-k keep the buffer.
        .config("spark.sql.execution.topKSortFallbackThreshold", str(TOPK_SORT_FALLBACK))
        # local[N] runs driver+executors in ONE JVM. Keep the heap UNDER
        # 32g: beyond that the JVM drops compressed oops and every pointer
        # doubles — measured 10× slowdown (7s → 91s) on the string-array-
        # heavy shingle joins at 48g. 16g is comfortable for 32 task
        # threads at these scales and keeps compressed oops.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # events.parquet carries TIMESTAMP(NANOS) — read as long, convert in
        # operators.events.load_events (mirrors DuckDB's nanos→micros floor).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
