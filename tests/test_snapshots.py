"""The manifest-committed snapshot layer: atomic visibility, time
travel, orphan invisibility, optimistic concurrency, and crash-safe
compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from connapse_spark.sources import snapshots


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


def test_commit_read_roundtrip_and_versioning(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    v0 = snapshots.commit_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), t)
    v1 = snapshots.commit_snapshot(
        orders.filter(F.col("o_orderkey") % 2 == 1), t, mode="append"
    )
    assert (v0, v1) == (0, 1)
    assert snapshots.read_snapshot(spark, t).count() == orders.count()
    # time travel: version 0 still sees only the even half
    assert (
        snapshots.read_snapshot(spark, t, version=0).count()
        == orders.filter(F.col("o_orderkey") % 2 == 0).count()
    )


def test_overwrite_replaces_visible_files(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    snapshots.commit_snapshot(orders, t)
    snapshots.commit_snapshot(orders.limit(10), t, mode="overwrite")
    assert snapshots.read_snapshot(spark, t).count() == 10
    assert snapshots.read_snapshot(spark, t, version=0).count() == orders.count()


def test_orphan_files_are_invisible(spark, sf_dir, tmp_path):
    """A crashed writer's leftover parquet in data/ must not leak into
    reads — visibility comes from the manifest, not the listing."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    snapshots.commit_snapshot(orders.limit(50), t)
    # simulate a crashed commit: data files staged, no manifest link
    orphan_dir = os.path.join(t, "data", "c000042-deadbeef")
    orders.limit(7).write.parquet(orphan_dir)
    assert snapshots.read_snapshot(spark, t).count() == 50


def test_concurrent_commit_conflict_detected(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    snapshots.commit_snapshot(orders.limit(5), t)
    # two writers both build on version 0; the second to publish loses
    snapshots.commit_snapshot(orders.limit(3), t, mode="append", base_version=0)
    with pytest.raises(snapshots.ConcurrentCommitError):
        snapshots.commit_snapshot(orders.limit(4), t, mode="append", base_version=0)
    # the loser retries against the new latest and succeeds
    v = snapshots.commit_snapshot(orders.limit(4), t, mode="append", base_version=1)
    assert v == 2
    assert snapshots.read_snapshot(spark, t).count() == 5 + 3 + 4


def test_compact_snapshot_reduces_files_and_keeps_history(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    # fragment deliberately: 12 small files
    snapshots.commit_snapshot(orders.repartition(12), t)
    n_before = len(snapshots.load_manifest(t)["files"])
    assert n_before >= 12
    total = sum(e["size_bytes"] for e in snapshots.load_manifest(t)["files"])
    v = snapshots.compact_snapshot(spark, t, target_bytes=total // 3 + 1)
    m = snapshots.load_manifest(t)
    assert m["version"] == v and m["mode"] == "compact"
    assert len(m["files"]) < n_before
    # same rows, and the pre-compaction version is untouched
    assert snapshots.read_snapshot(spark, t).count() == orders.count()
    assert snapshots.read_snapshot(spark, t, version=v - 1).count() == orders.count()
    assert len(snapshots.load_manifest(t, version=v - 1)["files"]) == n_before


def test_snapshot_listing_matches_manifest(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    snapshots.commit_snapshot(_orders(spark, sf_dir).repartition(4), t)
    listing = snapshots.snapshot_listing(spark, t).collect()
    m = snapshots.load_manifest(t)
    assert {(r["dir"], r["file"], r["size_bytes"]) for r in listing} == {
        (os.path.dirname(e["path"]), os.path.basename(e["path"]), e["size_bytes"])
        for e in m["files"]
    }


def test_vacuum_keeps_shared_files_and_retained_versions(spark, sf_dir, tmp_path):
    """Append lineage shares files across versions: vacuum must keep any
    file a RETAINED manifest references, drop everything else, and leave
    reads of retained versions bit-identical."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    snapshots.commit_snapshot(orders.limit(20), t)                     # v0
    snapshots.commit_snapshot(orders.limit(5), t, mode="append")       # v1 (shares v0 files)
    snapshots.commit_snapshot(orders.limit(7), t, mode="overwrite")    # v2
    snapshots.commit_snapshot(orders.limit(3), t, mode="append")       # v3 (shares v2 files)
    before_v3 = snapshots.read_snapshot(spark, t, version=3).count()
    report = snapshots.vacuum_snapshot(t, keep_last=2, min_age_seconds=0)
    assert report["kept_versions"] == [2, 3]
    assert report["removed_versions"] == [0, 1]
    assert report["removed_files"] > 0  # v0's unshared files went away
    # retained reads unchanged; dropped versions now fail loudly
    assert snapshots.read_snapshot(spark, t, version=3).count() == before_v3 == 10
    assert snapshots.read_snapshot(spark, t, version=2).count() == 7
    with pytest.raises(FileNotFoundError):
        snapshots.load_manifest(t, version=0)


def test_vacuum_refuses_keep_last_zero(spark, sf_dir, tmp_path):
    """Retention trims history; it must never delete the current version
    (the r5 ADVICE keep_last=0 foot-gun)."""
    t = str(tmp_path / "tbl")
    snapshots.commit_snapshot(_orders(spark, sf_dir).limit(5), t)
    with pytest.raises(ValueError, match="keep_last"):
        snapshots.vacuum_snapshot(t, keep_last=0, min_age_seconds=0)
    with pytest.raises(ValueError, match="keep_last"):
        snapshots.expire_snapshots(t, older_than_seconds=0, keep_last=0)
    # table untouched after the refused calls
    assert snapshots.read_snapshot(spark, t).count() == 5


def test_expire_snapshots_by_age_keeps_pinned_window(spark, sf_dir, tmp_path):
    """Age-based expiry: versions older than the horizon go, the newest
    keep_last always stay (idle-table safety), retained time travel is
    intact, expired versions fail loudly."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    snapshots.commit_snapshot(orders.limit(20), t)                   # v0
    snapshots.commit_snapshot(orders.limit(5), t, mode="append")     # v1
    snapshots.commit_snapshot(orders.limit(7), t, mode="overwrite")  # v2
    # age v0/v1 manifests into the past; v2 stays fresh
    for v in (0, 1):
        p = snapshots._manifest_path(t, v)
        os.utime(p, (os.path.getmtime(p) - 7200, os.path.getmtime(p) - 7200))
    report = snapshots.expire_snapshots(
        t, older_than_seconds=3600, keep_last=1, min_age_seconds=0
    )
    assert report["removed_versions"] == [0, 1]
    assert report["kept_versions"] == [2]
    assert snapshots.read_snapshot(spark, t).count() == 7
    with pytest.raises(FileNotFoundError):
        snapshots.load_manifest(t, version=1)
    # everything old on an IDLE table: the current version still survives
    p = snapshots._manifest_path(t, 2)
    os.utime(p, (os.path.getmtime(p) - 7200, os.path.getmtime(p) - 7200))
    report = snapshots.expire_snapshots(
        t, older_than_seconds=3600, keep_last=1, min_age_seconds=0
    )
    assert report["removed_versions"] == []
    assert snapshots.read_snapshot(spark, t).count() == 7


def test_expire_composes_with_vacuum(spark, sf_dir, tmp_path):
    """expire (age policy) then vacuum (count policy) on the same table:
    both reap through the shared core, shared files survive as long as a
    retained manifest lists them."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    for i in range(4):
        snapshots.commit_snapshot(orders.limit(5 + i), t, mode="append" if i else "overwrite")
    for v in (0, 1):
        p = snapshots._manifest_path(t, v)
        os.utime(p, (os.path.getmtime(p) - 7200, os.path.getmtime(p) - 7200))
    snapshots.expire_snapshots(t, older_than_seconds=3600, keep_last=1, min_age_seconds=0)
    report = snapshots.vacuum_snapshot(t, keep_last=1, min_age_seconds=0)
    assert report["kept_versions"] == [3]
    # v3 is an append lineage over v0..v2 data: its read must be intact
    assert snapshots.read_snapshot(spark, t).count() == 5 + 6 + 7 + 8


def test_partitioned_commit_preserves_pruning(spark, sf_dir, tmp_path):
    """A list_id-partitioned index committed through the snapshot layer
    keeps the layout-as-index property: partition columns come back on
    read and a partition filter scans ONLY that partition's files."""
    t = str(tmp_path / "ivf_tbl")
    from connapse_spark.plans.ivf import build_ivf_index_seeded

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    index, _ = build_ivf_index_seeded(emb, n_lists=4)
    snapshots.commit_snapshot(index, t, partition_by=["list_id"])
    back = snapshots.read_snapshot(spark, t)
    assert "list_id" in back.columns
    assert back.count() == index.count()
    probe = back.filter(F.col("list_id") == 0)
    files = {r[0] for r in probe.select(F.col("_metadata.file_path")).distinct().collect()}
    assert files and all("list_id=0" in f for f in files)
    # append keeps per-commit basePaths working
    extra = index.limit(5).withColumn("id", F.col("id") + 100000)
    snapshots.commit_snapshot(extra, t, mode="append", partition_by=["list_id"])
    assert snapshots.read_snapshot(spark, t).count() == index.count() + 5


def test_compact_partitioned_lineage_merges_across_commits(spark, sf_dir, tmp_path):
    """Compacting an appended partitioned lineage must merge files ACROSS
    commits within each partition, keep the hive layout (pruning), and
    carry partition_by into the new manifest."""
    t = str(tmp_path / "ptbl")
    orders = _orders(spark, sf_dir).withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("int")
    )
    snapshots.commit_snapshot(orders.limit(40), t, partition_by=["bucket"])
    snapshots.commit_snapshot(
        orders.filter(F.col("o_orderkey") % 7 == 0).limit(30),
        t, mode="append", partition_by=["bucket"],
    )
    total_rows = snapshots.read_snapshot(spark, t).count()
    n_files_before = len(snapshots.load_manifest(t)["files"])
    v = snapshots.compact_snapshot(spark, t, target_bytes=1 << 30)  # one bin per partition
    m = snapshots.load_manifest(t)
    assert m["partition_by"] == ["bucket"]
    assert len(m["files"]) == 2  # one compacted file per bucket
    assert len(m["files"]) < n_files_before
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == total_rows
    assert "bucket" in back.columns
    pruned = back.filter(F.col("bucket") == 1)
    files = {r[0] for r in pruned.select(F.col("_metadata.file_path")).distinct().collect()}
    assert files and all("bucket=1" in f for f in files)
    # history intact
    assert snapshots.read_snapshot(spark, t, version=v - 1).count() == total_rows


def test_vacuum_partitioned_lineage(spark, sf_dir, tmp_path):
    """Vacuum must handle nested hive dirs inside staging roots (a flat
    listdir would try to unlink directories) and keep the retained
    partitioned version readable with pruning intact."""
    t = str(tmp_path / "pvtbl")
    orders = _orders(spark, sf_dir).withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("int")
    )
    snapshots.commit_snapshot(orders.limit(30), t, partition_by=["bucket"])
    snapshots.commit_snapshot(orders.limit(10), t, partition_by=["bucket"])  # overwrite
    report = snapshots.vacuum_snapshot(t, keep_last=1, min_age_seconds=0)
    assert report["removed_versions"] == [0] and report["removed_files"] > 0
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == 10 and "bucket" in back.columns


def test_vacuum_spares_inflight_staged_files(spark, sf_dir, tmp_path):
    """A concurrent writer stages data files BEFORE publishing its
    manifest; default vacuum must not delete fresh unreferenced files
    (they may belong to a commit about to happen). min_age_seconds=0
    opts into deleting them."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    snapshots.commit_snapshot(orders.limit(10), t)  # v0
    # simulate an in-flight commit: staged files, manifest not yet linked
    rel_dir, files = snapshots._stage_files(orders.limit(5), t, version=1)
    assert files
    report = snapshots.vacuum_snapshot(t, keep_last=1)  # default age guard
    assert report["removed_files"] == 0
    for e in files:
        assert os.path.exists(os.path.join(t, e["path"]))
    # with the guard off, the same pass reclaims them
    report = snapshots.vacuum_snapshot(t, keep_last=1, min_age_seconds=0)
    assert report["removed_files"] >= len(files)  # + _SUCCESS/.crc sidecars
    for e in files:
        assert not os.path.exists(os.path.join(t, e["path"]))


def test_append_inherits_and_validates_partition_by(spark, sf_dir, tmp_path):
    """Append onto a partitioned lineage without partition_by must inherit
    the base layout (a flat append would silently drop the hive-encoded
    columns at read time); a conflicting layout must be refused."""
    t = str(tmp_path / "ptbl")
    orders = _orders(spark, sf_dir).withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("int")
    )
    snapshots.commit_snapshot(orders.limit(20), t, partition_by=["bucket"])
    snapshots.commit_snapshot(orders.limit(6), t, mode="append")  # inherits
    m = snapshots.load_manifest(t)
    assert m["partition_by"] == ["bucket"]
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == 26 and "bucket" in back.columns
    assert back.filter(F.col("bucket").isNull()).count() == 0
    with pytest.raises(ValueError, match="conflicts"):
        snapshots.commit_snapshot(
            orders.limit(3), t, mode="append", partition_by=["o_custkey"]
        )


def test_merge_snapshot_rewrites_only_touched_files(spark, sf_dir, tmp_path):
    """Keyed MERGE with file-level copy-on-write: updated keys replace
    their rows, new keys insert, rows in untouched files survive, and the
    new manifest carries untouched files BY REFERENCE (identical paths —
    zero rewrite IO for them)."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_custkey", "o_totalprice")
    base = orders.limit(60).repartition(6)  # several files
    snapshots.commit_snapshot(base, t)
    keys = [r["o_orderkey"] for r in base.orderBy("o_orderkey").limit(3).collect()]
    batch = spark.createDataFrame(
        [(k, 999, 1.5) for k in keys] + [(10**9, 777, 2.5)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    before = {e["path"] for e in snapshots.load_manifest(t)["files"]}
    v = snapshots.merge_snapshot(spark, batch, t, "o_orderkey")
    m = snapshots.load_manifest(t)
    after = {e["path"] for e in m["files"]}
    assert m["mode"] == "merge" and m["version"] == v
    assert before & after, "untouched files must carry over by reference"
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == 61  # 60 originals + 1 insert (3 replaced in place)
    got = {
        r["o_orderkey"]: (r["o_custkey"], r["o_totalprice"])
        for r in back.filter(F.col("o_orderkey").isin(keys + [10**9])).collect()
    }
    assert got == {k: (999, 1.5) for k in keys} | {10**9: (777, 2.5)}
    # time travel: the pre-merge version is bit-identical
    prev = snapshots.read_snapshot(spark, t, version=v - 1)
    assert prev.count() == 60
    assert prev.filter(F.col("o_orderkey") == 10**9).count() == 0
    assert (
        prev.filter(F.col("o_orderkey").isin(keys))
        .filter(F.col("o_custkey") == 999)
        .count()
        == 0
    )


def test_merge_snapshot_partitioned_keeps_layout(spark, sf_dir, tmp_path):
    """MERGE on a partitioned lineage keeps hive pruning: survivors
    re-stage under their partition dirs and partition_by persists."""
    t = str(tmp_path / "ptbl")
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_totalprice",
        (F.col("o_orderkey") % 2).cast("int").alias("bucket"),
    )
    snapshots.commit_snapshot(orders.limit(40), t, partition_by=["bucket"])
    k = [r["o_orderkey"] for r in orders.limit(1).collect()][0]
    batch = spark.createDataFrame(
        [(k, 123.0, int(k % 2))], "o_orderkey long, o_totalprice double, bucket int"
    )
    snapshots.merge_snapshot(spark, batch, t, "o_orderkey")
    m = snapshots.load_manifest(t)
    assert m["partition_by"] == ["bucket"]
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == 40 and "bucket" in back.columns
    assert back.filter(F.col("o_orderkey") == k).collect()[0]["o_totalprice"] == 123.0
    # hive layout survives: every file (kept and rewritten) sits under a
    # partition dir, so partition pruning keeps applying per base
    assert all("bucket=" in e["path"] for e in m["files"])
    assert back.filter(F.col("bucket") == 0).count() == 20


def test_merge_snapshot_multi_base_partitioned_lineage(spark, sf_dir, tmp_path):
    """MERGE must work when the current version spans SEVERAL staging
    roots (append lineage / successive merges) on a partitioned table —
    _metadata is a per-FileScan pseudo-column, so the source-file tag has
    to be selected inside each per-base read, not through the union."""
    t = str(tmp_path / "ptbl")
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_totalprice",
        (F.col("o_orderkey") % 2).cast("int").alias("bucket"),
    )
    first = orders.limit(30)
    snapshots.commit_snapshot(first, t, partition_by=["bucket"])
    extra = orders.limit(40).subtract(first).limit(6)
    snapshots.commit_snapshot(extra, t, mode="append")  # second base
    total = snapshots.read_snapshot(spark, t).count()
    ks = [r["o_orderkey"] for r in first.limit(2).collect()]
    batch = spark.createDataFrame(
        [(k, 5.0, int(k % 2)) for k in ks],
        "o_orderkey long, o_totalprice double, bucket int",
    )
    v = snapshots.merge_snapshot(spark, batch, t, "o_orderkey")  # must not raise
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == total
    got = {r["o_orderkey"]: r["o_totalprice"] for r in back.filter(
        F.col("o_orderkey").isin(ks)).collect()}
    assert got == {k: 5.0 for k in ks}
    # a THIRD base now exists; a second merge over it must also work
    batch2 = spark.createDataFrame(
        [(ks[0], 7.0, int(ks[0] % 2))],
        "o_orderkey long, o_totalprice double, bucket int",
    )
    snapshots.merge_snapshot(spark, batch2, t, "o_orderkey")
    assert snapshots.read_snapshot(spark, t).count() == total
    assert snapshots.load_manifest(t)["version"] == v + 1


def test_merge_snapshot_pure_insert_touches_nothing(spark, sf_dir, tmp_path):
    """A batch with only new keys must rewrite zero existing files."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    snapshots.commit_snapshot(orders.limit(20), t)
    before = {e["path"] for e in snapshots.load_manifest(t)["files"]}
    batch = spark.createDataFrame(
        [(10**9, 1.0), (10**9 + 1, 2.0)], "o_orderkey long, o_totalprice double"
    )
    snapshots.merge_snapshot(spark, batch, t, "o_orderkey")
    after = {e["path"] for e in snapshots.load_manifest(t)["files"]}
    assert before <= after  # every pre-merge file carried over by reference
    assert snapshots.read_snapshot(spark, t).count() == 22


def test_manifest_records_footer_stats(spark, sf_dir, tmp_path):
    """Every staged file's manifest entry carries per-column [min, max]
    read from the parquet footer — numeric and string columns, nested
    columns skipped — so pruning decisions never open a data file."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    snapshots.commit_snapshot(orders.limit(50).repartition(4), t)
    m = snapshots.load_manifest(t)
    assert m["files"]
    for e in m["files"]:
        st = e["stats"]
        assert set(st) >= {"o_orderkey", "o_totalprice", "o_orderpriority"}
        assert st["o_orderkey"][0] <= st["o_orderkey"][1]
        assert isinstance(st["o_orderpriority"][0], str)


def test_prune_files_keeps_statless_and_intersecting(spark):
    m = {
        "files": [
            {"path": "a", "stats": {"k": [0, 10]}},
            {"path": "b", "stats": {"k": [20, 30]}},
            {"path": "c", "stats": {}},  # no stats: must be kept
        ]
    }
    keep = {e["path"] for e in snapshots.prune_files(m, "k", 12, 25)}
    assert keep == {"b", "c"}
    keep = {e["path"] for e in snapshots.prune_files(m, "k", 11, 19)}
    assert keep == {"c"}


def test_scan_pruned_skips_files_and_matches_full_filter(spark, sf_dir, tmp_path):
    """On a key-clustered layout (range-partitioned write), a range scan
    through the manifest stats opens a strict subset of files and
    returns exactly the rows of the full-scan filter."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    snapshots.commit_snapshot(orders.repartitionByRange(6, "o_orderkey"), t)
    m = snapshots.load_manifest(t)
    lo = orders.agg(F.min("o_orderkey")).collect()[0][0]
    hi = lo + 50
    kept = snapshots.prune_files(m, "o_orderkey", lo, hi)
    assert 0 < len(kept) < len(m["files"])  # skipping actually happened
    got = {
        r["o_orderkey"]
        for r in snapshots.scan_pruned(spark, t, "o_orderkey", lo, hi).collect()
    }
    want = {
        r["o_orderkey"]
        for r in snapshots.read_snapshot(spark, t)
        .filter(F.col("o_orderkey").between(lo, hi))
        .collect()
    }
    assert got == want and got


def test_merge_probe_prunes_by_key_stats(spark, sf_dir, tmp_path):
    """A merge batch whose keys fall inside one file's key range must
    leave the other files' entries untouched in the new manifest — and
    the stats pruning pre-screens them out of the probe read."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    snapshots.commit_snapshot(orders.repartitionByRange(6, "o_orderkey"), t)
    m = snapshots.load_manifest(t)
    lo = orders.agg(F.min("o_orderkey")).collect()[0][0]
    candidates = snapshots.prune_files(m, "o_orderkey", lo, lo)
    assert len(candidates) < len(m["files"])
    batch = spark.createDataFrame(
        [(lo, 0.5)], "o_orderkey long, o_totalprice double"
    )
    snapshots.merge_snapshot(spark, batch, t, "o_orderkey")
    m2 = snapshots.load_manifest(t)
    before = {e["path"] for e in m["files"]}
    after = {e["path"] for e in m2["files"]}
    # only files the pruner admitted can have been rewritten
    rewritten = before - after
    assert rewritten <= {e["path"] for e in candidates}
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == orders.count()
    assert back.filter(F.col("o_orderkey") == lo).collect()[0]["o_totalprice"] == 0.5


def test_schema_evolution_append_adds_column(spark, sf_dir, tmp_path):
    """Add-column evolution: an append carrying a new column merges it
    into the manifest schema; pre-evolution rows read back with typed
    NULLs; a type CHANGE on an existing column is refused; time travel
    still shows the old schema."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    snapshots.commit_snapshot(orders.limit(10), t)
    evolved = orders.limit(15).subtract(orders.limit(10)).withColumn(
        "priority", F.lit("high")
    )
    snapshots.commit_snapshot(evolved, t, mode="append")
    back = snapshots.read_snapshot(spark, t)
    assert back.columns == ["o_orderkey", "o_totalprice", "priority"]
    assert back.count() == 15
    assert back.filter(F.col("priority").isNull()).count() == 10
    assert back.filter(F.col("priority") == "high").count() == 5
    # pinned pre-evolution version keeps its original two columns
    v0 = snapshots.read_snapshot(spark, t, version=0)
    assert v0.columns == ["o_orderkey", "o_totalprice"]
    # type change refused
    bad = orders.limit(2).withColumn("priority", F.lit(7))
    with pytest.raises(ValueError, match="cannot change column"):
        snapshots.commit_snapshot(bad, t, mode="append")


def test_schema_evolution_merge_and_compaction(spark, sf_dir, tmp_path):
    """A merge batch may add a column (earlier rows -> NULL); a batch
    missing an EXISTING column is refused (whole-row replace would
    silently null it); compaction of the evolved lineage keeps the union
    of fields."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    base = orders.limit(12)
    snapshots.commit_snapshot(base, t)
    k = [r["o_orderkey"] for r in base.limit(1).collect()][0]
    batch = spark.createDataFrame(
        [(k, 9.5, "eu")], "o_orderkey long, o_totalprice double, region string"
    )
    snapshots.merge_snapshot(spark, batch, t, "o_orderkey")
    back = snapshots.read_snapshot(spark, t)
    assert back.columns == ["o_orderkey", "o_totalprice", "region"]
    assert back.count() == 12
    got = {r["o_orderkey"]: r["region"] for r in back.collect()}
    assert got[k] == "eu" and sum(v is None for v in got.values()) == 11
    # missing existing column refused
    with pytest.raises(ValueError, match="lacks existing columns"):
        snapshots.merge_snapshot(
            spark,
            spark.createDataFrame([(k, "x")], "o_orderkey long, region string"),
            t,
            "o_orderkey",
        )
    # compaction preserves the evolved union of fields and all values
    snapshots.compact_snapshot(spark, t, target_bytes=1 << 30)
    compacted = snapshots.read_snapshot(spark, t)
    assert set(compacted.columns) == {"o_orderkey", "o_totalprice", "region"}
    assert compacted.count() == 12
    assert {r["o_orderkey"]: r["region"] for r in compacted.collect()} == got


def test_restore_and_history(spark, sf_dir, tmp_path):
    """RESTORE republishes an older manifest as the next version with
    zero data IO (files shared by reference); history lists every
    version's mode off metadata; a restore after a bad delete brings the
    rows back while the delete stays in history."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    snapshots.commit_snapshot(orders.limit(20), t)                       # v0
    lo = orders.agg(F.min("o_orderkey")).collect()[0][0]
    snapshots.delete_snapshot(
        spark, t, "o_orderkey",
        spark.createDataFrame([(lo,)], "o_orderkey long"),
    )                                                                    # v1
    assert snapshots.read_snapshot(spark, t).count() == 19
    v = snapshots.restore_snapshot(t, 0)                                 # v2
    assert v == 2
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == 20
    assert back.filter(F.col("o_orderkey") == lo).count() == 1
    # no new data files were written by the restore
    assert {e["path"] for e in snapshots.load_manifest(t, 2)["files"]} == {
        e["path"] for e in snapshots.load_manifest(t, 0)["files"]
    }
    hist = snapshots.snapshot_history(t)
    assert [(h["version"], h["mode"]) for h in hist] == [
        (0, "overwrite"), (1, "delete"), (2, "restore"),
    ]
    assert all(h["n_columns"] == 2 for h in hist)
    # the bad version stays readable between the two points
    assert snapshots.read_snapshot(spark, t, version=1).count() == 19


def test_delete_snapshot_cow_and_time_travel(spark, sf_dir, tmp_path):
    """Keyed DELETE: matching rows vanish from the new version, only
    files containing a matching key rewrite, deletes of absent keys
    rewrite nothing, and pinned older versions still show the rows
    (until vacuum retires them)."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    snapshots.commit_snapshot(orders.repartitionByRange(5, "o_orderkey"), t)
    total = snapshots.read_snapshot(spark, t).count()
    m0 = snapshots.load_manifest(t)
    lo = orders.agg(F.min("o_orderkey")).collect()[0][0]
    keys = spark.createDataFrame([(lo,)], "o_orderkey long")
    v = snapshots.delete_snapshot(spark, t, "o_orderkey", keys)
    m1 = snapshots.load_manifest(t)
    assert m1["mode"] == "delete" and m1["version"] == v
    back = snapshots.read_snapshot(spark, t)
    assert back.count() == total - 1
    assert back.filter(F.col("o_orderkey") == lo).count() == 0
    # only the pruner-admitted file(s) were rewritten
    rewritten = {e["path"] for e in m0["files"]} - {e["path"] for e in m1["files"]}
    admitted = {e["path"] for e in snapshots.prune_files(m0, "o_orderkey", lo, lo)}
    assert rewritten and rewritten <= admitted
    # pinned pre-delete version still shows the row
    assert (
        snapshots.read_snapshot(spark, t, version=v - 1)
        .filter(F.col("o_orderkey") == lo)
        .count()
        == 1
    )
    # absent keys: nothing rewritten, same file set
    v2 = snapshots.delete_snapshot(
        spark, t, "o_orderkey",
        spark.createDataFrame([(10**9,)], "o_orderkey long"),
    )
    m2 = snapshots.load_manifest(t)
    assert {e["path"] for e in m1["files"]} <= {e["path"] for e in m2["files"]}
    assert snapshots.read_snapshot(spark, t, version=v2).count() == total - 1


def test_compaction_of_evolved_lineage_with_split_bins(spark, sf_dir, tmp_path):
    """Compaction bins that separate pre- and post-evolution files yield
    a heterogeneous staging root; reads pass the MANIFEST schema
    explicitly, so the evolved column's real values survive and
    pre-evolution rows stay NULL — schema inference from one arbitrary
    footer would silently drop or null the column."""
    t = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    old = orders.limit(10)
    snapshots.commit_snapshot(old.coalesce(1), t)
    new = orders.limit(16).subtract(old).withColumn("region", F.lit("eu"))
    snapshots.commit_snapshot(new.coalesce(1), t, mode="append")
    want = {
        r["o_orderkey"]: r["region"]
        for r in snapshots.read_snapshot(spark, t).collect()
    }
    assert sum(v == "eu" for v in want.values()) == 6
    # tiny target -> every input file becomes its own bin: the compacted
    # root mixes files with and without `region`
    snapshots.compact_snapshot(spark, t, target_bytes=1)
    m = snapshots.load_manifest(t)
    assert len(m["files"]) >= 2
    back = snapshots.read_snapshot(spark, t)
    got = {r["o_orderkey"]: r["region"] for r in back.collect()}
    assert got == want  # evolved values intact, pre-evolution rows NULL
    # compacted entries keep footer stats — skipping stays alive
    assert all("o_orderkey" in (e.get("stats") or {}) for e in m["files"])


def test_footer_stats_absent_means_no_pruning(tmp_path):
    """A file written WITHOUT statistics must yield no stats entries —
    prune_files then conservatively keeps it for every range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from connapse_spark.sources.snapshots import _footer_stats, prune_files

    p = str(tmp_path / "nostats.parquet")
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}),
        p,
        write_statistics=False,
        row_group_size=2,
    )
    assert _footer_stats(p) == {}
    m = {"files": [{"path": "nostats.parquet", "stats": {}}]}
    assert prune_files(m, "k", 100, 200) == m["files"]
    # and with stats on, both row groups fold into one envelope
    p2 = str(tmp_path / "stats.parquet")
    pq.write_table(
        pa.table({"k": [5, 1, 9], "v": [1.0, 2.0, 3.0]}), p2, row_group_size=2
    )
    assert _footer_stats(p2)["k"] == [1, 9]


def test_neardup_components_string_ids_distributed_tier(spark):
    """The iterative tier's convergence test must work for STRING ids (a
    label-sum is NULL over strings and exits after one round): a 5-hop
    chain needs several propagation rounds and must fully collapse."""
    from connapse_spark.operators.dedup import neardup_components

    chain = [(f"doc-{i}", f"doc-{i+1}") for i in range(1, 6)]
    pairs = spark.createDataFrame(chain + [("zz-1", "zz-2")], "id_a string, id_b string")
    got = {
        r["id"]: r["component"]
        for r in neardup_components(pairs, driver_edge_limit=0).collect()
    }
    assert {got[f"doc-{i}"] for i in range(1, 7)} == {"doc-1"}
    assert got["zz-1"] == got["zz-2"] == "zz-1"


def test_streaming_table_upsert_cdc_merge(spark, tmp_path):
    """Two activation waves of keyed records upsert through the snapshot
    MERGE: wave 1 seeds the table, wave 2 updates + inserts with an
    intra-batch conflict resolved last-writer-wins by order_col; untouched
    files carry over by reference and the pre-merge version stays pinned."""
    from connapse_spark.streaming.pipeline import streaming_table_upsert

    watch = str(tmp_path / "incoming")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    schema = "doc_id long, generation long, text string"

    wave1a = spark.createDataFrame(
        [(i, 1, f"v1 of {i}") for i in range(1, 11)], schema
    )
    wave1a.coalesce(1).write.mode("append").parquet(watch)
    streaming_table_upsert(
        spark, watch, table, "doc_id", schema, "generation", ckpt
    )
    wave1b = spark.createDataFrame(
        [(i, 1, f"v1 of {i}") for i in range(11, 21)], schema
    )
    wave1b.coalesce(1).write.mode("append").parquet(watch)
    streaming_table_upsert(
        spark, watch, table, "doc_id", schema, "generation", ckpt
    )
    assert snapshots.read_snapshot(spark, table).count() == 20
    v0 = snapshots.latest_version(table)
    # the file holding keys 11..20 will be untouched by wave 2
    before = {e["path"] for e in snapshots.load_manifest(table)["files"]}
    assert len(before) >= 2

    wave2 = spark.createDataFrame(
        [(1, 2, "v2 of 1"), (2, 2, "v2 of 2"), (2, 3, "v3 of 2"),
         (3, 2, "v2 of 3"), (100, 1, "new 100")],
        schema,
    )
    wave2.coalesce(1).write.mode("append").parquet(watch)
    streaming_table_upsert(
        spark, watch, table, "doc_id", schema, "generation", ckpt
    )
    m = snapshots.load_manifest(table)
    assert m["version"] > v0 and m["mode"] == "merge"
    assert before & {e["path"] for e in m["files"]}, "untouched files carried"
    back = snapshots.read_snapshot(spark, table)
    assert back.count() == 21
    got = {
        r["doc_id"]: (r["generation"], r["text"])
        for r in back.filter(F.col("doc_id").isin([1, 2, 3, 100])).collect()
    }
    assert got == {
        1: (2, "v2 of 1"),
        2: (3, "v3 of 2"),  # intra-batch LWW by generation
        3: (2, "v2 of 3"),
        100: (1, "new 100"),
    }
    # pinned reader: the pre-merge version still shows generation 1
    prev = snapshots.read_snapshot(spark, table, version=v0)
    assert prev.count() == 20
    assert {r["generation"] for r in prev.collect()} == {1}


def test_streaming_cdc_with_delete_ops(spark, tmp_path):
    """Full change feed through op_col: per key the LAST event decides —
    a trailing delete removes the row, a delete-then-update keeps the
    update, inserts land — all in ONE version per activation
    (apply_changes), with history recording the cdc commit."""
    from connapse_spark.streaming.pipeline import streaming_table_upsert

    watch = str(tmp_path / "incoming")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    schema = "doc_id long, generation long, op string, text string"

    wave1 = spark.createDataFrame(
        [(i, 1, "c", f"v1 of {i}") for i in range(1, 11)], schema
    )
    wave1.coalesce(1).write.mode("append").parquet(watch)
    streaming_table_upsert(
        spark, watch, table, "doc_id", schema, "generation", ckpt, op_col="op"
    )
    assert snapshots.read_snapshot(spark, table).count() == 10
    v0 = snapshots.latest_version(table)

    wave2 = spark.createDataFrame(
        [
            (1, 2, "u", "v2 of 1"),       # plain update
            (2, 2, "d", None),            # trailing delete -> gone
            (3, 2, "d", None), (3, 3, "u", "v3 of 3"),  # delete then update
            (4, 2, "u", "x"), (4, 3, "d", None),        # update then delete
            (50, 1, "c", "new 50"),       # insert
        ],
        schema,
    )
    wave2.coalesce(1).write.mode("append").parquet(watch)
    streaming_table_upsert(
        spark, watch, table, "doc_id", schema, "generation", ckpt, op_col="op"
    )
    m = snapshots.load_manifest(table)
    assert m["version"] == v0 + 1 and m["mode"] == "cdc"  # ONE commit
    back = snapshots.read_snapshot(spark, table)
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert 2 not in got and 4 not in got
    assert got[1] == "v2 of 1" and got[3] == "v3 of 3" and got[50] == "new 50"
    assert back.count() == 9  # 10 - 2 deletes + 1 insert
    # the op column never lands in the table
    assert "op" not in back.columns


def _tf_rebuild_all(ki, toks):
    """exact∪stemmed tf postings plus the doclen partition (kind='doclen',
    term='', tf=dl — r10): the full kind set a maintained tf table carries."""
    return (
        ki.build_tf_postings(toks, "tokens_exact").withColumn("kind", F.lit("exact"))
        .unionByName(
            ki.build_tf_postings(toks, "tokens_stemmed").withColumn(
                "kind", F.lit("stemmed")
            )
        )
        .select("kind", "term", "id", "tf")
        .unionByName(
            ki.build_doclen_table(toks).select(
                F.lit("doclen").alias("kind"),
                F.lit("").alias("term"),
                "id",
                F.col("dl").cast("long").alias("tf"),
            )
        )
    )


def test_tf_pending_list_resolve_and_compact(spark, sf_dir, tmp_path):
    """GIN-fastupdate regime: per-batch O(batch) appends to the delta,
    serve-time resolution, periodic compaction. Every state must equal a
    from-scratch rebuild over the live corpus; replayed appends and the
    compaction crash window (base committed, delta not yet truncated)
    must resolve identically."""
    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.sources import snapshots as snaps

    base_dir = str(tmp_path / "base")
    delta_dir = str(tmp_path / "delta")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
        .persist()
    )

    def rebuild(live):
        return _tf_rebuild_all(ki, ki.build_token_table(live))

    def as_set(df):
        return {(r["kind"], r["term"], r["id"], r["tf"]) for r in df.collect()}

    # batch 0: initial corpus, base does not exist yet
    ki.tf_pending_append(docs, delta_dir, batch=0)
    assert as_set(ki.resolve_pending(spark, base_dir, delta_dir)) == as_set(rebuild(docs))

    # batch 1: update doc 3, delete doc 7
    upd = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("entirely different words").alias("text")
    )
    ki.tf_pending_append(upd, delta_dir, deleted_ids=[7], batch=1)
    live = docs.filter(~F.col("doc_id").isin(3, 7)).unionByName(upd)
    want = as_set(rebuild(live))
    assert as_set(ki.resolve_pending(spark, base_dir, delta_dir)) == want

    # crash-replay of batch 1: identical rows append again, resolution dedups
    ki.tf_pending_append(upd, delta_dir, deleted_ids=[7], batch=1)
    assert as_set(ki.resolve_pending(spark, base_dir, delta_dir)) == want

    # compaction crash window: base committed from the resolved view but
    # the delta NOT truncated — stale tombstones suppress exactly the base
    # rows the stale postings re-add
    snaps.commit_snapshot(
        ki.resolve_pending(spark, base_dir, delta_dir), base_dir, partition_by=["kind"]
    )
    assert as_set(ki.resolve_pending(spark, base_dir, delta_dir)) == want

    # full compaction converges; base alone now carries the index (the
    # fold committed as the next base, then the delta truncated)
    snaps.commit_snapshot(
        ki.resolve_pending(spark, base_dir, delta_dir), base_dir, partition_by=["kind"]
    )
    ki.truncate_pending(spark, delta_dir)
    assert as_set(snaps.read_snapshot(spark, base_dir).select("kind", "term", "id", "tf")) == want
    assert snaps.read_snapshot(spark, delta_dir).count() == 0
    assert as_set(ki.resolve_pending(spark, base_dir, delta_dir)) == want

    # post-compact batch: delete the updated doc again
    ki.tf_pending_append(
        docs.filter(F.lit(False)).select("doc_id", "text"), delta_dir,
        deleted_ids=[3], batch=2,
    )
    live2 = live.filter(F.col("doc_id") != 3)
    assert as_set(ki.resolve_pending(spark, base_dir, delta_dir)) == as_set(rebuild(live2))
    docs.unpersist()


def test_positions_pending_list_resolve_and_compact(spark, sf_dir, tmp_path):
    """The fastupdate regime for the ARRAY payload (r10): per-batch
    O(batch) appends of (term, id, positions) + tombstones, serve-time
    resolution, periodic compaction — every state equal to a rebuild
    over the live corpus position for position; replayed appends and the
    compaction crash window resolve identically; the resolved kind-split
    SERVES the phrase tier row-equal to fresh-built tables."""
    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.sources import snapshots as snaps

    base_dir = str(tmp_path / "pbase")
    delta_dir = str(tmp_path / "pdelta")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
        .persist()
    )

    def rebuild(live):
        toks = ki.build_token_table(live)
        return (
            ki.build_positions_postings(toks, "tokens_exact")
            .withColumn("kind", F.lit("exact"))
            .unionByName(
                ki.build_positions_postings(toks, "tokens_stemmed").withColumn(
                    "kind", F.lit("stemmed")
                )
            )
        )

    def canon(df):
        return sorted(
            (r["kind"], r["term"], r["id"], tuple(r["positions"]))
            for r in df.select("kind", "term", "id", "positions").collect()
        )

    ki.positions_pending_append(docs, delta_dir, batch=0)
    assert canon(ki.resolve_pending(spark, base_dir, delta_dir)) == canon(
        rebuild(docs)
    )

    upd = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("entirely different words").alias("text")
    )
    ki.positions_pending_append(upd, delta_dir, deleted_ids=[7], batch=1)
    live = docs.filter(~F.col("doc_id").isin(3, 7)).unionByName(upd)
    want = canon(rebuild(live))
    assert canon(ki.resolve_pending(spark, base_dir, delta_dir)) == want

    # crash-replay of batch 1: byte-identical rows, resolution dedups
    ki.positions_pending_append(upd, delta_dir, deleted_ids=[7], batch=1)
    assert canon(ki.resolve_pending(spark, base_dir, delta_dir)) == want

    # compaction crash window: base committed, delta not truncated
    snaps.commit_snapshot(
        ki.resolve_pending(spark, base_dir, delta_dir),
        base_dir,
        partition_by=["kind"],
    )
    assert canon(ki.resolve_pending(spark, base_dir, delta_dir)) == want

    snaps.commit_snapshot(
        ki.resolve_pending(spark, base_dir, delta_dir), base_dir, partition_by=["kind"]
    )
    ki.truncate_pending(spark, delta_dir)
    assert canon(
        snaps.read_snapshot(spark, base_dir).select("kind", "term", "id", "positions")
    ) == want
    assert snaps.read_snapshot(spark, delta_dir).count() == 0

    # the resolved view SERVES the phrase tier identically to fresh tables
    resolved = ki.resolve_pending(spark, base_dir, delta_dir)
    pe = resolved.filter(F.col("kind") == "exact").select("term", "id", "positions")
    ps = resolved.filter(F.col("kind") == "stemmed").select("term", "id", "positions")
    toks_live = ki.build_token_table(live)
    fe = ki.build_positions_postings(toks_live, "tokens_exact")
    fs = ki.build_positions_postings(toks_live, "tokens_stemmed")
    pq = [(1, '"table scan"'), (2, '"merge join"')]
    got = ki.keyword_search_many_phrase_indexed(pe, ps, pq, k=5).collect()
    fresh = ki.keyword_search_many_phrase_indexed(fe, fs, pq, k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in fresh]
    docs.unpersist()


# ---------------------------------------------------------------------------
# per-file Bloom skipping (r9)
# ---------------------------------------------------------------------------


def _sha_rows(n):
    import hashlib

    return [
        (hashlib.sha256(f"k{i}".encode()).hexdigest(), i) for i in range(n)
    ]


def test_bloom_skipping_prunes_hashlike_keys(spark, tmp_path):
    """On a hash-like key column, [min, max] stats span everything and
    keep ALL files; per-file blooms cut the point scan to ~|keys| files
    with identical results."""
    from connapse_spark.sources import snapshots

    rows = _sha_rows(400)
    df = spark.createDataFrame(rows, "chunk_id string, payload long").repartition(8)
    tdir = str(tmp_path / "bloomed")
    snapshots.commit_snapshot(df, tdir, bloom_cols=["chunk_id"])
    m = snapshots.load_manifest(tdir)
    assert all("blooms" in e and "chunk_id" in e["blooms"] for e in m["files"])
    keys = [rows[7][0], rows[123][0], rows[399][0]]
    # stats alone keep everything (the hash-key regime)
    stats_keep = {e["path"] for k in keys for e in snapshots.prune_files(m, "chunk_id", k, k)}
    assert len(stats_keep) == len(m["files"])
    # blooms prune to a strict subset
    bloom_keep = {e["path"] for e in snapshots.prune_files_keys(m, "chunk_id", keys)}
    assert 0 < len(bloom_keep) < len(m["files"])
    got = sorted(
        tuple(r)
        for r in snapshots.scan_pruned_keys(spark, tdir, "chunk_id", keys).collect()
    )
    want = sorted(tuple(r) for r in rows if r[0] in set(keys))
    assert got == want


def test_bloom_skipping_never_loses_rows(spark, tmp_path):
    """Fuzz the no-loss property: for random key sets (present, absent,
    int-typed table), scan_pruned_keys over a bloomed commit equals the
    full-scan filter exactly."""
    import random

    from connapse_spark.sources import snapshots

    rng = random.Random(29)
    rows = [(rng.getrandbits(48), f"v{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "k long, v string").repartition(7)
    tdir = str(tmp_path / "bloomed-int")
    snapshots.commit_snapshot(df, tdir, bloom_cols=["k"])
    all_keys = [r[0] for r in rows]
    for trial in range(5):
        keys = rng.sample(all_keys, 4) + [rng.getrandbits(48) for _ in range(2)]
        got = sorted(
            tuple(r)
            for r in snapshots.scan_pruned_keys(spark, tdir, "k", keys).collect()
        )
        want = sorted(t for t in rows if t[0] in set(keys))
        assert got == want, trial


def test_bloom_untracked_commits_unchanged(spark, tmp_path):
    """No bloom_cols → no blooms recorded, scan_pruned_keys behaves as
    before (stats-only); unsupported key types stay conservative."""
    from connapse_spark.sources import snapshots

    rows = _sha_rows(50)
    df = spark.createDataFrame(rows, "chunk_id string, payload long").repartition(4)
    tdir = str(tmp_path / "plain")
    snapshots.commit_snapshot(df, tdir)
    m = snapshots.load_manifest(tdir)
    assert all("blooms" not in e for e in m["files"])
    got = snapshots.scan_pruned_keys(spark, tdir, "chunk_id", [rows[3][0]]).collect()
    assert [tuple(r) for r in got] == [rows[3]]


def test_bloom_inheritance_across_merge(spark, tmp_path):
    """A merge/apply_changes rewrite must keep tracking whatever bloom
    columns the base files tracked (self-propagating — callers never
    re-plumb bloom_cols), and the merged table still prunes + answers
    point reads exactly."""
    from connapse_spark.sources import snapshots

    rows = _sha_rows(200)
    df = spark.createDataFrame(rows, "chunk_id string, payload long").repartition(6)
    tdir = str(tmp_path / "bloom-merge")
    snapshots.commit_snapshot(df, tdir, bloom_cols=["chunk_id"])
    batch = spark.createDataFrame(
        [(rows[5][0], 999_005), ("brandnewkey", 999_999)],
        "chunk_id string, payload long",
    )
    v1 = snapshots.merge_snapshot(spark, batch, tdir, "chunk_id")
    m1 = snapshots.load_manifest(tdir, v1)
    assert all("blooms" in e and "chunk_id" in e["blooms"] for e in m1["files"])
    keys = [rows[5][0], "brandnewkey", rows[100][0]]
    got = sorted(
        tuple(r)
        for r in snapshots.scan_pruned_keys(spark, tdir, "chunk_id", keys).collect()
    )
    assert got == sorted(
        [(rows[5][0], 999_005), ("brandnewkey", 999_999), rows[100]]
    )
    keep = {e["path"] for e in snapshots.prune_files_keys(m1, "chunk_id", keys)}
    assert 0 < len(keep) < len(m1["files"])


def test_bloom_survives_compaction(spark, tmp_path):
    """compact_snapshot must keep tracking the lineage's bloom columns
    (the same self-propagation invariant as merge) — an OPTIMIZE pass
    must not silently disable the point-lookup index."""
    from connapse_spark.sources import snapshots

    rows = _sha_rows(120)
    df = spark.createDataFrame(rows, "chunk_id string, payload long").repartition(6)
    tdir = str(tmp_path / "bloom-compact")
    snapshots.commit_snapshot(df, tdir, bloom_cols=["chunk_id"])
    v = snapshots.compact_snapshot(spark, tdir, target_bytes=1 << 16)
    m = snapshots.load_manifest(tdir, v)
    assert all("blooms" in e and "chunk_id" in e["blooms"] for e in m["files"])
    keys = [rows[3][0], rows[77][0]]
    got = sorted(
        tuple(r)
        for r in snapshots.scan_pruned_keys(spark, tdir, "chunk_id", keys).collect()
    )
    assert got == sorted(t for t in rows if t[0] in set(keys))


def test_prune_files_keys_type_mismatch_conservative_keep():
    """A probe key whose Python type does not ORDER against a file's
    recorded stats type (int key vs string-column stats) must keep the
    file, not raise (ADVICE r9: the bare ``k < st[0]`` comparison
    crashed scan_pruned_keys with TypeError). Blooms still apply after
    the stats pass degrades: _bloom_token canonicalizes int/str through
    str(), so an int probe matches a string file that holds its digits."""
    from connapse_spark.sources.snapshots import (
        BLOOM_K,
        _bloom_positions,
        prune_files_keys,
    )

    m = {"files": [{"path": "a.parquet", "stats": {"k": ["aaa", "zzz"]}}]}
    # pre-fix this raised TypeError; now: stats can't adjudicate → keep
    assert [e["path"] for e in prune_files_keys(m, "k", [5])] == ["a.parquet"]

    # with a bloom recorded, the degraded stats pass defers to it: build
    # a tiny bloom holding only str(5)'s token
    import base64

    m_bits = 64
    bits = bytearray((m_bits + 7) // 8)
    for pos in _bloom_positions(b"5", m_bits, BLOOM_K):
        bits[pos >> 3] |= 1 << (pos & 7)
    bloom = {"m": m_bits, "k": BLOOM_K, "b64": base64.b64encode(bytes(bits)).decode()}
    empty = {"m": m_bits, "k": BLOOM_K,
             "b64": base64.b64encode(bytes(bytearray((m_bits + 7) // 8))).decode()}
    m2 = {
        "files": [
            {"path": "hit.parquet", "stats": {"k": ["0", "9"]}, "blooms": {"k": bloom}},
            {"path": "miss.parquet", "stats": {"k": ["a", "z"]}, "blooms": {"k": empty}},
        ]
    }
    kept = [e["path"] for e in prune_files_keys(m2, "k", [5])]
    assert kept == ["hit.parquet"]

def test_bloom_skipping_files_opened_bounded_across_decade(spark, tmp_path):
    """The ≤|keys|-files claim measured ACROSS A DECADE of store growth
    (r10 — VERDICT r9 ask #7): on hash-like keys, the number of files a
    point fetch opens is bounded by |keys| (+ bloom false-positive slack,
    ~0.8% of files at the shipped 10 bits/row sizing) REGARDLESS of store
    size — 10× the files must NOT mean 10× the opens, while range stats
    alone keep every file at both sizes. Results stay exact at both."""
    from connapse_spark.sources import snapshots

    opened = {}
    for n_files, n_rows in ((8, 2_000), (80, 20_000)):
        rows = _sha_rows(n_rows)
        df = spark.createDataFrame(
            rows, "chunk_id string, payload long"
        ).repartition(n_files)
        tdir = str(tmp_path / f"decade_{n_files}")
        snapshots.commit_snapshot(df, tdir, bloom_cols=["chunk_id"])
        m = snapshots.load_manifest(tdir)
        assert len(m["files"]) == n_files
        keys = [rows[i][0] for i in (3, n_rows // 3, n_rows - 1)]
        # stats keep everything — the hash-key regime at any size
        stats_keep = {
            e["path"] for k in keys for e in snapshots.prune_files(m, "chunk_id", k, k)
        }
        assert len(stats_keep) == n_files
        kept = snapshots.prune_files_keys(m, "chunk_id", keys)
        # FP slack: each non-holding file passes a key's bloom with
        # p≈0.8% (10 bits/row, k=7), so expected extra opens ≈
        # 0.008·|keys|·n_files; bound at ~2× expectation + 1
        fp_slack = 1 + int(0.016 * n_files * len(keys))
        assert len(kept) <= len(keys) + fp_slack, (n_files, len(kept))
        got = sorted(
            tuple(r)
            for r in snapshots.scan_pruned_keys(spark, tdir, "chunk_id", keys).collect()
        )
        assert got == sorted(t for t in rows if t[0] in set(keys))
        opened[n_files] = len(kept)
    # the decade claim itself: opens track keys (+FP noise), not store
    # size — 10× the files must stay far under 10× the opens
    assert opened[80] <= opened[8] + 1 + int(0.016 * 80 * 3)


@pytest.mark.slow
def test_streaming_serving_maintenance_full_layout(spark, sf_dir, tmp_path):
    """The serve-everything streaming front (r11): document event batches
    fold into a COMMITTED ingest_serving layout one micro-batch at a
    time through ingest_serving_incremental, each batch publishing a
    complete serving cut; compact_every folds the pending deltas through
    compact_serving (pinned-version fold + repin). After two activations
    the loaded cut must carry no pending pins, and its keyword serving
    structures must equal a from-scratch ingest of the live corpus
    (tf + BM25 through the pinned cut)."""
    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import ingest_serving, load_serving
    from connapse_spark.streaming.pipeline import streaming_serving_maintenance

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 12)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    watch = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    first = ingest_serving(docs, base_dir=base)
    v0 = load_serving(spark, base)["serving_version"]

    # activation 1 (batch 0): update doc 3, delete doc 7 — pending mode
    b1 = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("streamed wave table scan words").alias("text"),
        F.lit("U").alias("op"),
    )
    d1 = spark.createDataFrame([(7, None, "D")], "doc_id long, text string, op string")
    b1.unionByName(d1).coalesce(1).write.mode("append").parquet(watch)
    streaming_serving_maintenance(
        spark, watch, base, ckpt, tf_mode="pending", compact_every=2,
        rebuild_threshold=2.0,
    )
    cut1 = load_serving(spark, base)
    assert cut1["serving_version"] > v0
    assert "tf_pending" in cut1["tables"]  # batch 0: pending, not yet compacted

    # activation 2 (batch 1): update doc 5; compact_every=2 fires after it
    b2 = docs.filter(F.col("doc_id") == 5).select(
        "doc_id", F.lit("second streamed wave merge join").alias("text"),
        F.lit("U").alias("op"),
    )
    b2.coalesce(1).write.mode("append").parquet(watch)
    streaming_serving_maintenance(
        spark, watch, base, ckpt, tf_mode="pending", compact_every=2,
        rebuild_threshold=2.0,
    )
    cut2 = load_serving(spark, base)
    assert "tf_pending" not in cut2["tables"]
    assert "positions_pending" not in cut2["tables"]

    live = (
        docs.filter(~F.col("doc_id").isin(3, 5, 7))
        .unionByName(b1.select("doc_id", "text"))
        .unionByName(b2.select("doc_id", "text"))
    )
    want = ingest_serving(live)

    def rows(df):
        return {tuple(r) for r in df.collect()}

    assert rows(cut2["tf_postings"][0]) == rows(want["tf_postings"][0])
    assert rows(cut2["tf_postings"][1]) == rows(want["tf_postings"][1])
    got_bm25 = ki.keyword_search_bm25_indexed(
        cut2["tf_postings"][1], cut2["doclen"], "table scan", k=10
    ).collect()
    want_bm25 = ki.keyword_search_bm25_indexed(
        want["tf_postings"][1],
        ki.build_doclen_table(
            ki.build_token_table(want["chunks"], id_col="chunk_id", text_col="content")
        ),
        "table scan",
        k=10,
    ).collect()
    assert got_bm25 and [tuple(r) for r in got_bm25] == [tuple(r) for r in want_bm25]
    for h in (first, want):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()


_DOC_EVENTS = "doc_id long, text string, op string, seq long"


def _serving_stream(spark, sf_dir, tmp_path, n_docs, **stream_kwargs):
    """A committed ingest_serving layout over the documents with
    doc_id < ``n_docs``, and an ``activate(rows)`` that lands one event
    file in the watched dir, runs streaming_serving_maintenance over it
    (``stream_kwargs`` pass through) and returns the newly loaded cut."""
    from connapse_spark.operators.ingest import ingest_serving, load_serving
    from connapse_spark.streaming.pipeline import streaming_serving_maintenance

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < n_docs)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    watch = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    first = ingest_serving(docs, base_dir=base)
    first["chunks"].unpersist(), first["vectors"].unpersist()

    def activate(rows):
        spark.createDataFrame(rows, _DOC_EVENTS).coalesce(1).write.mode(
            "append"
        ).parquet(watch)
        streaming_serving_maintenance(
            spark, watch, base, ckpt, rebuild_threshold=2.0, **stream_kwargs
        )
        return load_serving(spark, base)

    return docs, base, activate


def _live_ingest(spark, docs, dropped, replaced):
    """From-scratch ingest_serving (no layout) of ``docs`` minus the
    ``dropped`` doc ids plus the (doc_id, text) ``replaced`` rows."""
    from connapse_spark.operators.ingest import ingest_serving

    live = docs.filter(~F.col("doc_id").isin(*dropped))
    if replaced:
        live = live.unionByName(
            spark.createDataFrame(replaced, "doc_id long, text string")
        )
    return ingest_serving(live)


def _assert_cut_serves_rebuild(spark, base, cut, want, phrases=False):
    """The cut's tf pair equals the rebuild's, and BM25 over the cut's
    committed doclen rows ranks exactly as BM25 over the rebuild; with
    ``phrases`` the positions pair and phrase hits match too."""
    from connapse_spark.operators import keyword_index as ki

    def rows(df):
        return {tuple(r) for r in df.collect()}

    assert rows(cut["tf_postings"][0]) == rows(want["tf_postings"][0])
    assert rows(cut["tf_postings"][1]) == rows(want["tf_postings"][1])
    got_bm25 = ki.keyword_search_bm25_indexed(
        cut["tf_postings"][1],
        ki.read_doclen(
            spark, os.path.join(base, "tf_postings"), cut["tables"]["tf_postings"]
        ),
        "table scan",
        k=10,
    ).collect()
    want_bm25 = ki.keyword_search_bm25_indexed(
        want["tf_postings"][1],
        ki.build_doclen_table(
            ki.build_token_table(want["chunks"], id_col="chunk_id", text_col="content")
        ),
        "table scan",
        k=10,
    ).collect()
    assert got_bm25 and [tuple(r) for r in got_bm25] == [tuple(r) for r in want_bm25]
    if not phrases:
        return

    def canon_pos(pair):
        return sorted(
            (k, r["term"], r["id"], tuple(r["positions"]))
            for k, df in zip(("exact", "stemmed"), pair)
            for r in df.collect()
        )

    assert canon_pos(cut["positions_postings"]) == canon_pos(want["positions_postings"])
    pq = [(1, '"table scan"'), (2, '"merge join"')]
    got_ph = ki.keyword_search_many_phrase_indexed(
        *cut["positions_postings"], pq, k=5
    ).collect()
    want_ph = ki.keyword_search_many_phrase_indexed(
        *want["positions_postings"], pq, k=5
    ).collect()
    assert got_ph and [tuple(r) for r in got_ph] == [tuple(r) for r in want_ph]


def _unpersist(*handles):
    for h in handles:
        h["chunks"].unpersist(), h["vectors"].unpersist()


def test_streaming_index_maintenance_commits_versions(spark, sf_dir, tmp_path):
    """Two activations of the streaming front -> two new serving cuts,
    each moving the list_id-partitioned IVF index with the documents:
    the final cut's index holds exactly the rebuild's chunk ids (the
    deleted doc's vectors gone, the updated docs' re-embedded), the
    first cut stays readable at its own version (maintenance never
    breaks pinned readers), and the committed index answers an ANN
    probe over live chunks only."""
    from connapse_spark.functions.embed import embed_py
    from connapse_spark.operators.ingest import load_serving
    from connapse_spark.plans.ivf import ann_ivf_topk

    docs, base, activate = _serving_stream(spark, sf_dir, tmp_path, 8)
    v0 = load_serving(spark, base)["serving_version"]
    cut1 = activate([(3, "streamed wave table scan words", "U", None)])
    ids1 = {r["id"] for r in cut1["vector_index"].index.select("id").collect()}
    cut2 = activate([
        (5, "second streamed wave merge join", "U", None),
        (1, None, "D", None),
    ])
    assert v0 < cut1["serving_version"] < cut2["serving_version"]

    index = cut2["vector_index"].index
    assert set(index.columns) >= {"id", "list_id", "vec", "norm"}
    want = _live_ingest(
        spark, docs, (1, 3, 5),
        [(3, "streamed wave table scan words"), (5, "second streamed wave merge join")],
    )
    live_ids = {r["chunk_id"] for r in want["chunks"].select("chunk_id").collect()}
    assert {r["id"] for r in index.select("id").collect()} == live_ids
    assert not [i for i in live_ids if i.startswith("1:")]

    # pinned reader: the first cut still serves its own index rows
    pinned = load_serving(spark, base, serving_version=cut1["serving_version"])
    assert {r["id"] for r in pinned["vector_index"].index.select("id").collect()} == ids1
    assert [i for i in ids1 if i.startswith("1:")]

    vidx = cut2["vector_index"]
    dims = len(index.first()["vec"])
    hits = ann_ivf_topk(
        index, vidx.centroids, embed_py("probe text", dims), k=5,
        nprobe=vidx.centroids.count(),
    ).collect()
    assert len(hits) == min(5, len(live_ids))
    assert {r["id"] for r in hits} <= live_ids
    _unpersist(want)
    docs.unpersist()


def test_streaming_keyword_maintenance_rebuild_equivalent(spark, sf_dir, tmp_path):
    """Two activations of the streaming front in its default overwrite
    mode: after each, the published cut's keyword structures equal a
    from-scratch ingest of the live corpus (tf, BM25 through the
    committed doclen rows; after the second, positions and phrase hits
    too), and the first cut stays readable at its version."""
    from connapse_spark.operators.ingest import load_serving

    docs, base, activate = _serving_stream(spark, sf_dir, tmp_path, 10)
    upd3 = (3, "completely new words here table scan")
    cut1 = activate([(*upd3, "U", None), (7, None, "D", None)])
    want1 = _live_ingest(spark, docs, (3, 7), [upd3])
    _assert_cut_serves_rebuild(spark, base, cut1, want1)

    upd5 = (5, "second streamed wave merge join")
    cut2 = activate([(*upd5, "U", None)])
    assert cut2["serving_version"] > cut1["serving_version"]
    want2 = _live_ingest(spark, docs, (3, 5, 7), [upd3, upd5])
    _assert_cut_serves_rebuild(spark, base, cut2, want2, phrases=True)

    # pinned reader: the first cut is unchanged by the second wave
    pinned = load_serving(spark, base, serving_version=cut1["serving_version"])
    _assert_cut_serves_rebuild(spark, base, pinned, want1)
    _unpersist(want1, want2)
    docs.unpersist()


def test_streaming_keyword_maintenance_intra_batch_lww(spark, sf_dir, tmp_path):
    """One micro-batch carrying BOTH an update and a later delete of doc
    2, and two versions of doc 4: the batch must first reduce to one
    surviving event per doc (seq order), so the delete wins over the
    earlier update and only doc 4's seq-latest text is indexed —
    without the cut the dead doc resurrects and the two versions' tf
    counts sum. The doclen rows obey the same cut (BM25 matches)."""
    docs, base, activate = _serving_stream(spark, sf_dir, tmp_path, 6)
    cut = activate([
        (2, "updated then deleted words", "U", 10),
        (2, None, "D", 20),
        (4, "first version merge join", "U", 10),
        (4, "second version table scan merge join", "U", 20),
    ])
    want = _live_ingest(spark, docs, (2, 4), [(4, "second version table scan merge join")])
    _assert_cut_serves_rebuild(spark, base, cut, want, phrases=True)
    tf_ids = {r["id"] for r in cut["tf_postings"][0].select("id").collect()}
    assert not [i for i in tf_ids if i.startswith("2:")]  # the delete won
    assert [i for i in tf_ids if i.startswith("4:")]
    _unpersist(want)
    docs.unpersist()


def test_streaming_keyword_maintenance_retention(spark, sf_dir, tmp_path):
    """vacuum_every=1 with keep_last_cuts=1 bounds the stream's version
    growth: after each activation only the newest cut survives — the
    dropped cut's manifest and its superseded table versions fail
    loudly when read — while the live cut keeps serving the corpus."""
    from connapse_spark.operators.ingest import load_serving

    docs, base, activate = _serving_stream(
        spark, sf_dir, tmp_path, 6, vacuum_every=1, keep_last_cuts=1
    )
    cut1 = activate([(1, "streamed update merge join", "U", None)])
    cut2 = activate([(5, "streamed update table scan words", "U", None)])
    assert cut2["serving_version"] > cut1["serving_version"]
    with pytest.raises(Exception):
        load_serving(spark, base, serving_version=cut1["serving_version"])
    with pytest.raises(Exception):
        snapshots.read_snapshot(
            spark,
            os.path.join(base, "tf_postings"),
            version=cut1["tables"]["tf_postings"],
        ).collect()
    want = _live_ingest(
        spark, docs, (1, 5),
        [(1, "streamed update merge join"), (5, "streamed update table scan words")],
    )
    _assert_cut_serves_rebuild(spark, base, cut2, want)
    _unpersist(want)
    docs.unpersist()


# ---------------------------------------------------------------------------
# Copy-on-write core: driver-keyed probe semantics and job budget
# ---------------------------------------------------------------------------


def _rows(df):
    """Sorted row tuples; NULLs sort last within a column."""
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: tuple((x is None, x) for x in r),
    )


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, its job ids)."""
    import uuid

    sc = spark.sparkContext
    group = f"cow-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "copy-on-write budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "ktype,key",
    [("bigint", lambda i: 1000 + 7 * i), ("string", lambda i: f"doc:{i}")],
    ids=["bigint", "string"],
)
def test_cow_null_keys_survive_and_both_sides_upsert(spark, tmp_path, ktype, key):
    """Rows with a NULL key never match a key, so they survive every
    rewrite of their file (apply_changes and merge); a NULL-key upsert row
    is inserted; a key on both sides of apply_changes ends upserted; an
    absent delete key is a no-op. Holds for bigint and "doc:idx" keys."""
    schema = f"k {ktype}, v string"
    base = [(key(i), f"v{i}") for i in range(12)] + [(None, "null-a"), (None, "null-b")]
    t = str(tmp_path / f"nulls-{ktype}")
    # one file: every rewrite re-stages the NULL-key rows
    snapshots.commit_snapshot(spark.createDataFrame(base, schema).coalesce(1), t)
    ups = spark.createDataFrame([(key(2), "up2"), (key(5), "up5"), (key(99), "new")], schema)
    dels = spark.createDataFrame([(key(5),), (key(7),), (key(500),), (None,)], f"k {ktype}")
    v = snapshots.apply_changes(spark, t, "k", upserts=ups, delete_keys=dels)
    want = dict((k, val) for k, val in base if k is not None)
    want.pop(key(7))
    want.update({key(2): "up2", key(5): "up5", key(99): "new"})
    got = _rows(snapshots.read_snapshot(spark, t, version=v))
    assert [r[1] for r in got if r[0] is None] == ["null-a", "null-b"]
    assert {r[0]: r[1] for r in got if r[0] is not None} == want

    batch = spark.createDataFrame([(key(3), "m3"), (None, "null-c")], schema)
    v2 = snapshots.merge_snapshot(spark, batch, t, "k")
    got2 = _rows(snapshots.read_snapshot(spark, t, version=v2))
    assert sorted(r[1] for r in got2 if r[0] is None) == ["null-a", "null-b", "null-c"]
    want[key(3)] = "m3"
    assert {r[0]: r[1] for r in got2 if r[0] is not None} == want

    v3 = snapshots.delete_snapshot(
        spark, t, "k", spark.createDataFrame([(key(0),), (key(1),)], f"k {ktype}")
    )
    got3 = _rows(snapshots.read_snapshot(spark, t, version=v3))
    assert len([r for r in got3 if r[0] is None]) == 3
    assert key(0) not in {r[0] for r in got3} and key(1) not in {r[0] for r in got3}
    assert len(got3) == len(got2) - 2


def test_cow_string_keys_with_quotes_round_trip(spark, tmp_path):
    """Keys enter the probe as SQL literals: quotes and backslashes in a
    string key must match exactly, not widen or break the filter; a
    delete that matches nothing rewrites nothing."""
    keys = ["a'b", "c\\d", "e\\'f", "plain", "doc:1"]
    t = str(tmp_path / "quoted")
    snapshots.commit_snapshot(
        spark.createDataFrame([(k, i) for i, k in enumerate(keys)], "k string, v long"), t
    )
    v = snapshots.apply_changes(
        spark, t, "k",
        upserts=spark.createDataFrame([("a'b", 100)], "k string, v long"),
        delete_keys=spark.createDataFrame([("e\\'f",), ("c\\d",)], "k string"),
    )
    assert _rows(snapshots.read_snapshot(spark, t, version=v)) == sorted(
        [("a'b", 100), ("plain", 3), ("doc:1", 4)]
    )
    # a delete that matches no row stages nothing: same files, by reference
    v2 = snapshots.delete_snapshot(
        spark, t, "k", spark.createDataFrame([("a'",), ("b",)], "k string")
    )
    assert snapshots.load_manifest(t, v2)["files"] == snapshots.load_manifest(t, v)["files"]


def _bloom_false_positive(m, col, absent_from, tries=20_000):
    """An absent key some file's Bloom admits, with that file."""
    import hashlib

    for i in range(tries):
        k = hashlib.sha256(f"absent{i}".encode()).hexdigest()
        if k in absent_from:
            continue
        hit = snapshots.prune_files_keys(m, col, [k])
        if hit:
            return k, hit[0]["path"]
    raise AssertionError("no Bloom false positive found")


def test_cow_bloom_false_positive_candidate_is_not_rewritten(spark, tmp_path):
    """A file whose Bloom admits a key it does not hold is a CANDIDATE
    (opened by the probe) but not TOUCHED: its manifest entry carries over
    by reference, unchanged; the file holding a real key is rewritten."""
    rows = _sha_rows(400)
    t = str(tmp_path / "bloom-fp")
    snapshots.commit_snapshot(
        spark.createDataFrame(rows, "chunk_id string, payload long").repartition(8),
        t, bloom_cols=["chunk_id"],
    )
    m = snapshots.load_manifest(t)
    fp_key, fp_file = _bloom_false_positive(m, "chunk_id", {r[0] for r in rows})
    located = snapshots.read_snapshot(spark, t).select(
        "chunk_id", F.col("_metadata.file_path").alias("f")
    ).collect()
    file_of = {r["chunk_id"]: snapshots._uri_to_table_rel(r["f"], t) for r in located}
    real = next(k for k, _ in rows if file_of[k] != fp_file)
    v = snapshots.apply_changes(
        spark, t, "chunk_id", upserts=None,
        delete_keys=spark.createDataFrame([(fp_key,), (real,)], "chunk_id string"),
    )
    m2 = snapshots.load_manifest(t, v)
    by_path = {e["path"]: e for e in m2["files"]}
    assert by_path.get(fp_file) == next(e for e in m["files"] if e["path"] == fp_file)
    assert file_of[real] not in by_path
    assert _rows(snapshots.read_snapshot(spark, t, version=v)) == sorted(
        r for r in rows if r[0] != real
    )


def test_cow_apply_changes_job_budget_and_candidate_scan(spark, tmp_path, monkeypatch):
    """A 3-key apply_changes on a multi-file Bloomed table runs at most 5
    Spark jobs (key collect, candidate probe, staging write, bloom build)
    and opens only the files the stats + Bloom probe admits — no range
    probe over the whole table, no shuffle, no join."""
    rows = _sha_rows(400)
    t = str(tmp_path / "budget")
    snapshots.commit_snapshot(
        spark.createDataFrame(rows, "chunk_id string, payload long").repartition(8),
        t, bloom_cols=["chunk_id"],
    )
    m = snapshots.load_manifest(t)
    keys = [rows[7][0], rows[123][0], rows[399][0]]
    candidates = {e["path"] for e in snapshots.prune_files_keys(m, "chunk_id", keys)}
    assert len(candidates) < len(m["files"])
    opened: list = []
    real_read = snapshots._read_conformed

    def spy(spark_, table_dir, m_, keep=None, with_source=False):
        opened.append(keep)
        return real_read(spark_, table_dir, m_, keep=keep, with_source=with_source)

    monkeypatch.setattr(snapshots, "_read_conformed", spy)
    ups = spark.createDataFrame([(keys[0], -1)], "chunk_id string, payload long")
    dels = spark.createDataFrame([(keys[1],), (keys[2],)], "chunk_id string")
    v, jobs = _jobs_in_group(
        spark, lambda: snapshots.apply_changes(spark, t, "chunk_id", ups, dels)
    )
    assert len(jobs) <= 5, jobs
    assert opened and all(k is not None and k <= candidates for k in opened)
    monkeypatch.undo()
    got = _rows(snapshots.read_snapshot(spark, t, version=v))
    assert got == sorted(
        [(keys[0], -1)] + [r for r in rows if r[0] not in set(keys)]
    )
