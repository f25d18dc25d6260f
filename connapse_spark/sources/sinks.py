"""Sinks: the physical layout that makes the query side fast (S6/S7 +
the index-build jobs M6). Layout IS the index in a lake engine — every
writer here chooses partition/sort keys so the matching read prunes.

| table          | partitioned by          | sorted within files by | pruned by                  |
|----------------|-------------------------|------------------------|----------------------------|
| chunks         | container_id            | document_id, chunk_idx | container + doc filters    |
| chunk_vectors  | model_id                | content_hash           | model filter (Q2 forces it)|
| lsh_index      | model_id, bucket        | id                     | probe's bucket equality    |

The content-hash sort on chunk_vectors co-locates the E2 cache anti-join;
the per-model partition mirrors the reference's per-model partial indexes
(VectorColumnManager.cs:95-126) and keeps cross-model scans impossible by
construction, like Q2's forced model filter (VectorSearchService.cs:65-70).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_chunks(chunks: DataFrame, path: str, mode: str = "overwrite") -> None:
    df = chunks
    if "container_id" not in df.columns:
        df = df.withColumn("container_id", F.lit("default"))
    (
        df.repartition("container_id")
        .sortWithinPartitions("document_id", "chunk_index")
        .write.mode(mode)
        .partitionBy("container_id")
        .parquet(path)
    )


def write_vectors(vectors: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        vectors.repartition("model_id")
        .sortWithinPartitions("content_hash")
        .write.mode(mode)
        .partitionBy("model_id")
        .parquet(path)
    )


def write_lsh_index(index: DataFrame, path: str, model_id: str = "hash-64", mode: str = "overwrite") -> None:
    # the writer requires child ordering by the partition columns; leading
    # the sort with them avoids a second writer-side sort and guarantees
    # the within-bucket id order the row-group pruning relies on
    (
        index.withColumn("model_id", F.lit(model_id))
        .repartition("bucket")
        .sortWithinPartitions("model_id", "bucket", "id")
        .write.mode(mode)
        .partitionBy("model_id", "bucket")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Bucketed tables — shuffle-free co-located joins
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED managed table: rows are hash-distributed into
    ``n_buckets`` files by ``bucket_col`` at write time, so two tables
    bucketed the same way join WITHOUT a shuffle — Catalyst recognizes the
    matching output partitioning and plans SortMergeJoin with zero
    Exchange. This is the 100 TB answer for the recurring chunk ⋈ vector
    join (both sides bucketed by chunk_id): the shuffle is paid ONCE at
    ingest, then every join/groupBy on the bucket key is free.

    Bucketing requires the table catalog (``saveAsTable``), not a bare
    parquet path — bucket metadata lives in the catalog entry."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


# ---------------------------------------------------------------------------
# Training-data export — deterministic JSONL shards + integrity manifest
# ---------------------------------------------------------------------------


def shard_expr(key: Column, n_shards: int, salt: str = "shards") -> Column:
    """Deterministic shard id in [0, n_shards): sha256-derived like
    ``sampling.hash_bucket_expr`` — a pure function of the row key, so the
    shard a document lands in never depends on partitioning, cluster size,
    or engine version. Different salts give independent shardings."""
    return (
        F.conv(F.substring(F.sha2(F.concat(F.lit(salt), key), 256), 1, 8), 16, 10)
        .cast("bigint")
        % n_shards
    ).cast("int")


def sql_shard(key: str, n_shards: int, salt: str = "shards") -> str:
    return f"(('0x' || substr(sha256('{salt}' || {key}), 1, 8))::BIGINT % {n_shards})::INT"


def shard_manifest(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    salt: str = "shards",
) -> DataFrame:
    """Per-shard integrity record: (shard, n_docs, n_chars, content_sha)
    where content_sha = sha256 over the shard's row-hashes in key order —
    two exports match iff their manifests match, without comparing bytes.
    One shuffle (the groupBy); the in-shard sort happens on collected
    row-hash structs, bounded by shard size."""
    key = F.col(key_col).cast("string")
    rows = df.select(
        shard_expr(key, n_shards, salt).alias("shard"),
        F.col(key_col).alias("_k"),
        F.length(text_col).alias("_len"),
        F.sha2(F.concat_ws("\x01", key, F.col(text_col)), 256).alias("_h"),
    )
    return (
        rows.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_len").alias("n_chars"),
            F.sha2(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_k", "_h"))),
                        lambda s: s["_h"],
                    ),
                    "",
                ),
                256,
            ).alias("content_sha"),
        )
        .orderBy("shard")
    )


def sql_shard_manifest(
    key_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    salt: str = "shards",
    table: str = "documents",
) -> str:
    shard = sql_shard(f"CAST({key_col} AS VARCHAR)", n_shards, salt)
    row_h = f"sha256(CAST({key_col} AS VARCHAR) || chr(1) || {text_col})"
    return f"""
WITH r AS (
  SELECT {shard} AS shard, {key_col} AS k, length({text_col}) AS len, {row_h} AS h
  FROM {table}
)
SELECT shard, count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS n_chars,
       sha256(string_agg(h, '' ORDER BY k)) AS content_sha
FROM r GROUP BY shard ORDER BY shard
""".strip()


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shards",
    mode: str = "overwrite",
) -> None:
    """Export as JSONL shards, the interchange format every trainer reads:
    ``shard=K/part-*.json`` with rows sorted by key within each shard. The
    shard assignment is ``shard_expr`` (row-pure), and the within-shard
    order is the key order, so a re-export of identical data is
    byte-identical — rsync-able, diff-able, resumable.

    Scale: one repartition on the shard id (n_shards output tasks, each
    streaming one sorted shard to disk). For 100 TB exports pick
    n_shards ≈ total_bytes / 1-4 GB and raise
    ``spark.sql.files.maxRecordsPerFile`` if per-file splitting is wanted
    inside a shard directory."""
    key = F.col(key_col).cast("string")
    (
        df.withColumn("shard", shard_expr(key, n_shards, salt))
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", key_col)
        .write.mode(mode)
        .partitionBy("shard")
        .json(path)
    )


# ---------------------------------------------------------------------------
# Small-file compaction (OPTIMIZE-style maintenance for written layouts)
# ---------------------------------------------------------------------------


def list_data_files(spark: SparkSession, path: str) -> DataFrame:
    """(dir, file, size_bytes) for every parquet data file under ``path``
    (one level of partition dirs supported) — the input a compaction pass
    plans over. Local/driver listing here; at lake scale the listing comes
    from the table format's manifest (Delta/Iceberg) or the connector
    listing (connectors.s3_list_objects) — same columns either way."""
    import os

    rows = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                rows.append(
                    (os.path.relpath(root, path), f, os.path.getsize(full))
                )
    return spark.createDataFrame(rows, "dir string, file string, size_bytes long")


def assign_bins(
    listing: DataFrame, target_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """The packing rule, stated ONCE: within each directory (= partition),
    order files by name and cut merge groups at ``target_bytes`` via an
    exclusive cumulative sum — the same integer window math as
    pack_sequences. Files already ≥ target form singleton groups naturally.
    Returns the listing plus a ``group`` column; ``compaction_plan``
    aggregates this and every executor (``compact``,
    ``snapshots.compact_snapshot``) collects it per-file, so plan and
    execution cannot disagree."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("dir")
        .orderBy("file")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
    return listing.withColumn("group", (start / target_bytes).cast("bigint"))


def compaction_plan(
    listing: DataFrame, target_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """OPTIMIZE-style bin packing over ``assign_bins``'s per-file groups.

    Output: (dir, group, n_files, group_bytes) — one row per planned
    output file; execute with ``compact_group`` per (dir, group).

    Why it matters at 100 TB: streaming/append ingest produces file counts
    that grow without bound, and scan/listing overhead grows with FILES,
    not bytes — periodic compaction is what keeps the layout-as-index
    properties (pruning, co-location) effective. The plan itself is one
    window over the metadata listing — no data IO."""
    return (
        assign_bins(listing, target_bytes).groupBy("dir", "group")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_bytes").alias("group_bytes"),
        )
        .orderBy("dir", "group")
    )


def compact_group(
    spark: SparkSession, files: list[str], out_file: str
) -> None:
    """Rewrite one planned bin: read exactly its files, emit exactly ONE
    parquet file at ``out_file`` (write to a temp dir, move the single
    part file into place — the rename is the commit). Reading the explicit
    file list (no basePath) keeps hive partition values OUT of the data
    file, matching the source layout where they live in dir names only."""
    import os
    import shutil

    tmp = out_file + "._tmp"
    # mergeSchema: an evolved lineage's bins can mix pre- and
    # post-add-column files; the rewrite must keep the union of fields
    spark.read.option("mergeSchema", "true").parquet(*files).coalesce(
        1
    ).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    assert len(part) == 1
    shutil.move(os.path.join(tmp, part[0]), out_file)
    shutil.rmtree(tmp)


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    max_workers: int = 8,
) -> int:
    """Execute a compaction pass: rewrite ``path`` into ``out_path`` with
    output files corresponding 1:1 to ``compaction_plan``'s (dir, group)
    bins, PRESERVING the partition-directory layout (a global round-robin
    repartition would flatten partition dirs into data columns and break
    the pruning/co-location the layout encodes). Each bin is an
    independent read-files→one-file job; bins run concurrently via driver
    threads (Spark schedules concurrent jobs fine), which is exactly how
    OPTIMIZE implementations turn a bin-packing plan into rewrite tasks.
    Returns the output file count. Rewrite-to-new-location keeps the pass
    atomic-by-rename for plain parquet; a table format would commit a
    manifest swap instead."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    # the listing is metadata-sized (one row per data file), so this
    # collect is bounded
    assign = assign_bins(list_data_files(spark, path), target_bytes).collect()
    bins: dict[tuple[str, int], list[str]] = {}
    for r in assign:
        bins.setdefault((r["dir"], r["group"]), []).append(
            os.path.normpath(os.path.join(path, r["dir"], r["file"]))
        )

    def run(key: tuple[str, int]) -> None:
        d, g = key
        dest_dir = out_path if d == "." else os.path.join(out_path, d)
        os.makedirs(dest_dir, exist_ok=True)
        compact_group(
            spark, sorted(bins[key]), os.path.join(dest_dir, f"compact-{g:05d}.parquet")
        )

    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        list(ex.map(run, sorted(bins)))
    return len(bins)
