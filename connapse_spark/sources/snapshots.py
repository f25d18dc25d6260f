"""Manifest-committed table snapshots — the minimal table-format layer
(Delta/Iceberg-lite) that turns "rewrite then rename" into a real atomic
commit protocol. Several operators in this repo note that "a table
format would commit a manifest swap instead" (sinks.compact,
write_training_shards); this module IS that swap, built on two
filesystem primitives that are atomic on POSIX and on object stores
with a metadata layer:

* data files are IMMUTABLE once written — every commit writes into a
  fresh ``data/c<version>-<token>/`` directory, never in place;
* a snapshot is born atomically by LINKING a fully-written temp file to
  ``manifest-<version>.json`` — ``os.link`` fails with EEXIST if the
  version already exists, which doubles as optimistic-concurrency
  control (two racing writers cannot both commit version N; the loser
  retries against N+1).

Readers resolve the highest manifest (or a pinned ``version`` — time
travel) and scan EXACTLY its file list: half-written commits, orphans
from crashed jobs, and concurrent staging directories are invisible by
construction, because visibility comes from the manifest, not from
directory listing. Old versions stay readable until a retention pass
deletes their files — retention is policy layered on the mechanism:
``vacuum_snapshot`` (keep the newest N versions) and
``expire_snapshots`` (expire versions older than an age, Iceberg's
expire_snapshots shape); both delete only data files no RETAINED
manifest references, so pinned reads within the retained window never
break mid-scan.

At 100 TB this is the difference between "the compaction job crashed
halfway and the table is now double-counted" and "version N is still
what every reader sees". The manifest also records per-file sizes, so
compaction plans (sinks.compaction_plan) run off metadata with zero
storage round trips.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"manifest-{version:06d}.json")


def _list_versions(table_dir: str) -> list[int]:
    """All committed version numbers, ascending (the single place the
    manifest naming scheme is parsed)."""
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(f[len("manifest-"):-len(".json")])
        for f in os.listdir(table_dir)
        if f.startswith("manifest-") and f.endswith(".json")
    )


def latest_version(table_dir: str) -> int | None:
    """Highest committed version, or None for an empty table dir."""
    versions = _list_versions(table_dir)
    return versions[-1] if versions else None


def load_manifest(table_dir: str, version: int | None = None) -> dict:
    v = latest_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshot committed at {table_dir}")
    with open(_manifest_path(table_dir, v), encoding="utf-8") as f:
        m = json.load(f)
    m["version"] = v
    return m


def _atomic_publish(table_dir: str, version: int, manifest: dict) -> None:
    """Write-then-link: the manifest becomes visible in one atomic step,
    and an existing version makes the link fail (EEXIST) — optimistic
    concurrency for free."""
    tmp = os.path.join(table_dir, f".tmp-manifest-{uuid.uuid4().hex}.json")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(table_dir, version))
    except FileExistsError as ex:
        raise ConcurrentCommitError(
            f"version {version} was committed by another writer"
        ) from ex
    finally:
        os.unlink(tmp)


class ConcurrentCommitError(RuntimeError):
    pass


def publish_root(root_dir: str, payload: dict) -> int:
    """Publish a CROSS-TABLE root manifest as the next version of
    ``root_dir`` — the same write-then-link atomicity and optimistic
    concurrency as table commits, lifted one level: the payload typically
    records {table: version} pins that together form one consistent cut
    (see operators.ingest.publish_serving). Keeping the primitive here
    means any change to the commit protocol covers root manifests too."""
    os.makedirs(root_dir, exist_ok=True)
    prev = latest_version(root_dir)
    v = 0 if prev is None else prev + 1
    _atomic_publish(root_dir, v, payload)
    return v


def _stage_files(
    df: DataFrame,
    table_dir: str,
    version: int,
    partition_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> tuple[str, list[dict]]:
    """Write ``df`` into a fresh immutable staging dir (optionally hive-
    partitioned, preserving the layout-as-index properties inside the
    commit protocol); return (relative staging dir, manifest entries).
    ``bloom_cols`` additionally records a per-file Bloom filter for each
    named column (see :func:`_file_blooms`)."""
    rel_dir = os.path.join("data", f"c{version:06d}-{uuid.uuid4().hex[:8]}")
    stage = os.path.join(table_dir, rel_dir)
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    entries = []
    for root, _dirs, files in os.walk(stage):
        for f in sorted(files):
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                entries.append(
                    {
                        "path": os.path.relpath(full, table_dir),
                        "size_bytes": os.path.getsize(full),
                        "stats": _footer_stats(full),
                    }
                )
    if bloom_cols and entries:
        by_path = _distributed_blooms(
            df.sparkSession, table_dir, [e["path"] for e in entries], bloom_cols
        )
        for e in entries:
            blooms = by_path.get(e["path"])
            if blooms:
                e["blooms"] = blooms
    return rel_dir, sorted(entries, key=lambda e: e["path"])


def _distributed_blooms(
    spark, table_dir: str, rel_paths: list[str], bloom_cols: list[str]
) -> dict:
    """Fan the per-file bloom builds out to EXECUTORS (one task per file,
    each reading only its own file's bloom columns from shared storage) —
    at 100 TB a staged commit is thousands of files and a driver loop
    over them would serialize the one data-touching step of the commit.
    Returns {relative path: blooms dict}. The collect is one small JSON
    blob per file (the manifest rows themselves — driver-bounded by file
    count like every other manifest operation)."""
    import json as _json

    cols = list(bloom_cols)
    base = os.path.abspath(table_dir)

    def _build(batches):
        import pandas as _pd

        for pdf in batches:
            rows = []
            for rel in pdf["rel"]:
                blooms = _file_blooms(os.path.join(base, rel), cols)
                rows.append((rel, _json.dumps(blooms)))
            yield _pd.DataFrame(rows, columns=["rel", "blooms_json"])

    paths_df = spark.createDataFrame([(p,) for p in rel_paths], "rel string")
    n = max(1, min(len(rel_paths), spark.sparkContext.defaultParallelism))
    out = (
        paths_df.repartition(n)
        .mapInPandas(_build, "rel string, blooms_json string")
        .collect()
    )
    return {
        r["rel"]: _json.loads(r["blooms_json"])
        for r in out
        if r["blooms_json"] not in (None, "{}")
    }


# Bloom sizing: bits/row=10 at k=7 ≈ 0.8% false-positive rate — a false
# positive OPENS one extra file, never loses a row, so the parameters
# trade manifest bytes against wasted IO only.
BLOOM_BITS_PER_ROW = 10
BLOOM_K = 7


def _bloom_token(v) -> bytes | None:
    """Canonical hash token for a bloom value. int/str/bool only —
    anything else makes the column untrackable for that file (returning
    None aborts the bloom, keeping skipping conservative). bool before
    int: str(True) != str(1) would split equal SQL values."""
    if isinstance(v, bool):
        return str(int(v)).encode()
    if isinstance(v, (int, str)):
        return str(v).encode()
    return None


def _bloom_positions(tok: bytes, m: int, k: int = BLOOM_K) -> list[int]:
    """k double-hashed bit positions over one sha256 (the same
    double-hashing construction as dedup.py's contamination bloom)."""
    import hashlib

    h = hashlib.sha256(tok).digest()
    h1 = int.from_bytes(h[:8], "big")
    h2 = int.from_bytes(h[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _file_blooms(path: str, cols: list[str]) -> dict:
    """Per-file Bloom filters over the DISTINCT-insensitive value stream
    of each named column — the manifest-level point-lookup index for
    columns whose values are hash-like (content hashes, chunk ids, sha
    urls), where [min, max] footer stats span everything and prune
    nothing. One column-pruned read per column per staged file,
    metadata-bounded like the staging walk itself; at deployment scale
    this folds into the writer (the Delta/Iceberg shape) or runs as a
    mapPartitions over the staged file list — per-file work either way.
    Columns with unsupported value types are silently untracked (the
    probe keeps untracked files, so skipping stays conservative)."""
    try:
        import base64

        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        names = set(pf.schema_arrow.names)
        out = {}
        for col in cols:
            if col not in names:
                continue
            n = max(1, pf.metadata.num_rows)
            m = max(64, n * BLOOM_BITS_PER_ROW)
            bits = bytearray((m + 7) // 8)
            ok = True
            for v in pf.read(columns=[col]).column(0).to_pylist():
                if v is None:
                    continue
                tok = _bloom_token(v)
                if tok is None:
                    ok = False
                    break
                for p in _bloom_positions(tok, m):
                    bits[p >> 3] |= 1 << (p & 7)
            if ok:
                out[col] = {
                    "m": m,
                    "k": BLOOM_K,
                    "b64": base64.b64encode(bytes(bits)).decode(),
                }
        return out
    except Exception:  # noqa: BLE001 — blooms are an optimization, never fatal
        return {}


def _bloom_maybe_contains(bloom: dict, key) -> bool:
    """May ``key`` be present per this file's bloom? Unsupported key
    types answer True (conservative)."""
    import base64

    tok = _bloom_token(key)
    if tok is None:
        return True
    bits = base64.b64decode(bloom["b64"])
    m, k = int(bloom["m"]), int(bloom.get("k", BLOOM_K))
    return all(
        bits[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(tok, m, k)
    )


def _footer_stats(path: str) -> dict:
    """Per-column [min, max] for the file's primitive columns, read from
    the parquet FOOTER (metadata-only — no data pages touched). This is
    the Iceberg/Delta per-file stats record: the manifest can answer
    "can this file contain key k?" without opening the file, which is
    what turns a keyed probe over a sorted/clustered layout from
    read-everything into read-the-one-file."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        mins: dict = {}
        maxs: dict = {}
        seen: dict = {}
        invalid: set = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested/list columns: skip
                    continue
                st = col.statistics
                ok = st is not None and st.has_min_max
                lo = hi = None
                if ok:
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                        except UnicodeDecodeError:
                            ok = False
                    if ok and not isinstance(lo, (int, float, str, bool)):
                        ok = False  # keep the manifest JSON-serializable
                if not ok:
                    # a single row group without usable stats poisons the
                    # whole column: a partial [min, max] would be NARROWER
                    # than the data, and pruning on it would DROP rows —
                    # skipping must stay conservative, never lossy
                    invalid.add(name)
                    continue
                seen[name] = seen.get(name, 0) + 1
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        return {
            c: [mins[c], maxs[c]]
            for c in mins
            if c not in invalid and seen[c] == md.num_row_groups
        }
    except Exception:  # noqa: BLE001 — stats are an optimization, never fatal
        return {}


def prune_files(m: dict, col: str, lo, hi) -> list[dict]:
    """Manifest-level data skipping: the file entries whose recorded
    [min, max] for ``col`` can intersect [lo, hi]. Files without stats
    for the column are kept (skipping must never drop data). This runs
    on the driver over metadata — zero storage IO."""
    out = []
    for e in m["files"]:
        st = (e.get("stats") or {}).get(col)
        if st is None or not (hi < st[0] or lo > st[1]):
            out.append(e)
    return out


def prune_files_keys(m: dict, col: str, keys: list) -> list[dict]:
    """Point-key data skipping (r9): a file survives iff at least one key
    passes BOTH its [min, max] stats AND — when the commit recorded one
    (``commit_snapshot(bloom_cols=…)``) — its per-file Bloom filter.
    Stats prune on clustered layouts; blooms prune on HASH-LIKE columns
    (content hashes, chunk ids) where every file's [min, max] spans the
    whole key space and range stats keep everything. Missing stats or
    blooms keep the file — skipping is never lossy; a bloom false
    positive (~0.8% at the shipped sizing) opens one extra file."""
    out = []
    for e in m["files"]:
        st = (e.get("stats") or {}).get(col)
        bloom = (e.get("blooms") or {}).get(col)
        for k in keys:
            if st is not None:
                try:
                    if k < st[0] or k > st[1]:
                        continue
                except TypeError:
                    # probe key doesn't order against the recorded stats
                    # type (e.g. int key vs string-column stats) —
                    # conservative-keep, same policy as _bloom_token's
                    # unsupported-type path (ADVICE r9): skipping must
                    # degrade to a wider read, never a crash or a miss
                    pass
            if bloom is not None and not _bloom_maybe_contains(bloom, k):
                continue
            out.append(e)
            break
    return out


def _merged_schema(prev_schema_json: dict, df: DataFrame) -> dict:
    """Schema evolution, add-column only (the lakehouse default): fields
    shared by name must keep the SAME type (a silent type change corrupts
    old files' reads — refuse it); fields new in ``df`` append after the
    base fields. Returns the merged schema's jsonValue."""
    from pyspark.sql.types import StructType

    base = StructType.fromJson(prev_schema_json)
    by_name = {f.name: f for f in base.fields}
    out = list(base.fields)
    for f in df.schema.fields:
        old = by_name.get(f.name)
        if old is None:
            out.append(f)
        elif old.dataType != f.dataType:
            raise ValueError(
                f"schema evolution cannot change column '{f.name}' from "
                f"{old.dataType.simpleString()} to {f.dataType.simpleString()}"
            )
    return StructType(out).jsonValue()


def _conform(df: DataFrame, schema_json: dict, extra: list[str] | None = None) -> DataFrame:
    """Project ``df`` to the manifest schema: missing columns become
    typed NULLs (rows written before an added column existed), order
    follows the manifest. ``extra`` names pass-through columns kept
    after the schema fields (e.g. the merge tier's _src_file tag)."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(schema_json)
    cols = [
        F.col(f.name) if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols, *[F.col(c) for c in (extra or []) if c in df.columns])


def commit_snapshot(
    df: DataFrame,
    table_dir: str,
    mode: str = "overwrite",
    base_version: int | None = None,
    partition_by: list[str] | None = None,
    props: dict | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Write ``df`` and commit it as the next version. ``mode``:
    ``overwrite`` (the new files ARE the table) or ``append`` (new files
    join the previous version's list — the data of old versions is never
    touched). Returns the committed version number.

    ``base_version`` pins the snapshot this commit builds on (optimistic
    concurrency): the commit publishes ``base_version + 1`` and FAILS
    with ConcurrentCommitError if another writer got there first —
    append semantics are then recomputed by the retrying caller against
    the new latest, never silently merged. Unpinned commits build on
    whatever is latest at publish time (last-writer-wins races are
    acceptable for single-writer pipelines).

    ``partition_by`` writes the commit hive-partitioned; the manifest
    records each commit's staging root so readers re-derive partition
    columns via ``basePath`` and partition pruning keeps working over
    the explicit file lists. An append INHERITS the base version's
    partitioning when ``partition_by`` is omitted (partition values live
    only in hive dir names, so a flat append onto a partitioned lineage
    would silently drop those columns at read time) and refuses a
    conflicting layout outright.

    ``props`` lands verbatim in this version's manifest (the Iceberg
    snapshot-summary slot) — per-commit writer metadata readable O(1)
    from the driver via ``load_manifest(...)["props"]``, e.g. the
    streaming frontier's committed batch id. Old manifests simply lack
    the key.

    ``bloom_cols`` (r9) records a per-file Bloom filter for each named
    column in the manifest — the point-lookup index for HASH-LIKE keys
    (content hashes, chunk ids) where [min, max] stats prune nothing;
    :func:`scan_pruned_keys` consults them automatically. Costs one
    column read per staged file at commit time and ~1.7 bytes/row of
    manifest per column (10 bits/row = 1.25 B raw, ×4/3 base64 — the
    SCALING.md measurement says ≈1.8 B/row with JSON framing)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode {mode}")
    os.makedirs(table_dir, exist_ok=True)
    prev = latest_version(table_dir) if base_version is None else base_version
    version = 0 if prev is None else prev + 1
    prev_m = (
        load_manifest(table_dir, prev)
        if mode == "append" and prev is not None
        else None
    )
    if prev_m is not None:
        base_parts = prev_m.get("partition_by") or []
        if partition_by is None:
            partition_by = base_parts
        elif list(partition_by) != base_parts:
            raise ValueError(
                f"append partition_by {list(partition_by)} conflicts with the "
                f"base version's {base_parts}; one lineage, one layout"
            )
    rel_dir, files = _stage_files(
        df, table_dir, version, partition_by, bloom_cols=bloom_cols
    )
    bases = {rel_dir: files}
    schema = df.schema.jsonValue()
    if prev_m is not None:
        # staging dirs are unique per commit, so bases never collide
        bases.update(_manifest_bases(prev_m))
        # add-column schema evolution: the manifest records the UNION of
        # the lineage's fields; readers fill pre-evolution files' missing
        # columns with typed NULLs
        schema = _merged_schema(prev_m["schema"], df)
    all_files = [e for fs in bases.values() for e in fs]
    _atomic_publish(
        table_dir,
        version,
        {
            "files": all_files,
            "bases": bases,
            "partition_by": partition_by or [],
            "schema": schema,
            "mode": mode,
            "props": props or {},
        },
    )
    return version


def _manifest_bases(m: dict) -> dict[str, list[dict]]:
    """Per-staging-root file groups for a manifest; older manifests
    without a ``bases`` key group by each file's first two path levels
    (data/c<ver>-<token>)."""
    if m.get("bases"):
        return m["bases"]
    groups: dict[str, list[dict]] = {}
    for e in m["files"]:
        parts = e["path"].split(os.sep)
        base = os.path.join(*parts[:2]) if len(parts) > 2 else os.path.dirname(e["path"])
        groups.setdefault(base, []).append(e)
    return groups


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Scan exactly the pinned version's file list (latest by default).
    Orphans and in-flight staging dirs are invisible — visibility comes
    from the manifest. Partitioned commits read with their staging root
    as ``basePath`` so hive partition columns come back and partition
    pruning applies over the explicit file list; a multi-commit lineage
    unions its per-root reads (commit count is bounded by vacuum).
    Columns added by schema evolution come back as typed NULLs on rows
    written before the column existed — the manifest schema, not any one
    file's footer, is the read contract."""
    m = load_manifest(table_dir, version)
    if not m["files"]:
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(m["schema"]))
    return _read_conformed(spark, table_dir, m)


def read_snapshot_files(
    spark: SparkSession,
    table_dir: str,
    paths: list[str],
    version: int | None = None,
) -> DataFrame:
    """Scan only ``paths`` of the pinned version (manifest-relative, as its
    file entries record them), with the manifest schema — for callers
    that decide from manifest metadata which files they need to open.
    Paths the version does not list are ignored."""
    m = load_manifest(table_dir, version)
    out = _read_conformed(spark, table_dir, m, keep=set(paths))
    if out is None:
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(m["schema"]))
    return out


def _read_conformed(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    keep: set | None = None,
    with_source: bool = False,
) -> DataFrame | None:
    """Per-base union over the manifest's files with the MANIFEST SCHEMA
    passed explicitly to every read: schema inference over a
    heterogeneous file set (an evolved lineage, or a compaction bin that
    rewrote pre-evolution rows) would take one arbitrary file's footer
    and silently drop or null a column's real values — the explicit
    schema makes every file fill its missing columns with typed NULLs
    and keep the rest. ``keep`` restricts to a pruned file subset (stats
    skipping); ``with_source`` tags rows with ``_src_file`` (selected
    INSIDE each read — ``_metadata`` is a per-FileScan pseudo-column and
    cannot be resolved through the union)."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(m["schema"])
    out = None
    for base, fs in _manifest_bases(m).items():
        fs = [e for e in fs if keep is None or e["path"] in keep]
        if not fs:
            continue
        paths = [os.path.join(table_dir, e["path"]) for e in fs]
        reader = spark.read.schema(schema)
        if m.get("partition_by"):
            reader = reader.option("basePath", os.path.join(table_dir, base))
        part = reader.parquet(*paths)
        if with_source:
            part = part.withColumn("_src_file", F.col("_metadata.file_path"))
        out = part if out is None else out.unionByName(part)
    return out


def scan_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Range scan with MANIFEST-LEVEL data skipping: files whose footer
    [min, max] for ``col`` cannot intersect [lo, hi] are never opened —
    they are dropped from the plan before Spark lists anything. On a
    layout clustered by ``col`` (sorted writes, Z-order) this reads
    O(selectivity) of the files; the residual exact filter still applies
    (and pushes down) inside the surviving files."""
    m = load_manifest(table_dir, version)
    keep = {e["path"] for e in prune_files(m, col, lo, hi)}
    out = _read_conformed(spark, table_dir, m, keep)
    if out is None:
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(m["schema"]))
    return out.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))


def scan_pruned_keys(
    spark: SparkSession,
    table_dir: str,
    col: str,
    keys: list,
    version: int | None = None,
) -> DataFrame:
    """Multi-key point scan with manifest-level skipping (r8 — the batched
    twin of :func:`scan_pruned`): open only files whose [min, max] for
    ``col`` admits AT LEAST ONE key (union of per-key pruned sets,
    deduplicated), then filter to the key set. On a ``col``-clustered
    layout this reads O(1) files per distinct key range."""
    if not keys:
        raise ValueError("scan_pruned_keys needs at least one key")
    m = load_manifest(table_dir, version)
    # stats + (when recorded) per-file blooms — see prune_files_keys
    keep = {e["path"] for e in prune_files_keys(m, col, list(keys))}
    out = _read_conformed(spark, table_dir, m, keep)
    if out is None:
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(m["schema"]))
    return out.filter(F.col(col).isin(list(keys)))


def snapshot_listing(spark: SparkSession, table_dir: str, version: int | None = None) -> DataFrame:
    """(dir, file, size_bytes) for a version's files, straight from the
    manifest — compaction plans off metadata, zero storage round trips.
    Same columns as sinks.list_data_files."""
    m = load_manifest(table_dir, version)
    rows = [
        (os.path.dirname(e["path"]), os.path.basename(e["path"]), e["size_bytes"])
        for e in m["files"]
    ]
    return spark.createDataFrame(rows, "dir string, file string, size_bytes long")


def snapshot_history(table_dir: str) -> list[dict]:
    """One row per committed version (oldest first): version, mode, file
    count, total bytes, column count — DESCRIBE HISTORY off pure
    manifest metadata, zero storage IO."""
    out = []
    for v in _list_versions(table_dir):
        m = load_manifest(table_dir, v)
        out.append(
            {
                "version": v,
                "mode": m.get("mode", "overwrite"),
                "n_files": len(m["files"]),
                "total_bytes": sum(e["size_bytes"] for e in m["files"]),
                "n_columns": len(m["schema"].get("fields", [])),
            }
        )
    return out


def restore_snapshot(table_dir: str, version: int) -> int:
    """ROLLBACK: republish an older version's manifest as the NEXT
    version — no data IO (the restored files are shared by reference,
    and vacuum keeps them because the new manifest references them).
    History is preserved: the bad versions stay readable between the
    restored point and the restore commit, exactly Delta's RESTORE
    semantics. Returns the new version number."""
    m = load_manifest(table_dir, version)
    new_version = (latest_version(table_dir) or 0) + 1
    _atomic_publish(
        table_dir,
        new_version,
        {
            "files": m["files"],
            "bases": _manifest_bases(m),
            "partition_by": m.get("partition_by") or [],
            "schema": m["schema"],
            "mode": "restore",
        },
    )
    return new_version


def vacuum_snapshot(
    table_dir: str, keep_last: int = 2, min_age_seconds: float = 24 * 3600
) -> dict:
    """Retention (the POLICY half of the commit protocol): delete the
    manifests older than the newest ``keep_last`` versions and every data
    file no retained version references. Files shared across versions
    (append lineage) survive as long as any retained manifest lists them.

    ``min_age_seconds`` protects IN-FLIGHT commits: a concurrent writer
    stages its data files BEFORE publishing the manifest that references
    them, so an unreferenced-but-fresh file may be a commit about to
    happen, not an orphan — deleting it would corrupt the commit the
    instant it publishes. Files younger than the threshold are skipped
    (same guard as Delta's VACUUM retention window); pass 0 only when no
    writer can be active.

    Returns {"removed_versions": [...], "removed_files": n,
    "kept_versions": [...]} — time travel keeps working within the
    retained window and fails loudly (missing manifest) outside it.

    ``keep_last`` must be ≥ 1: retention trims HISTORY, it never deletes
    the table — keep_last=0 would drop every manifest including the
    current version (the r5 ADVICE foot-gun). Deleting a table is a
    different intent; do it explicitly on the directory."""
    if keep_last < 1:
        raise ValueError(
            "vacuum_snapshot: keep_last must be >= 1 — retention keeps the "
            "table's current version by definition; to delete the whole "
            "table remove its directory explicitly"
        )
    import time

    cutoff = time.time() - min_age_seconds
    all_versions = _list_versions(table_dir)
    if not all_versions:
        return {"removed_versions": [], "removed_files": 0, "kept_versions": []}
    kept = all_versions[-keep_last:]
    return _reap(table_dir, kept, cutoff)


def expire_snapshots(
    table_dir: str,
    older_than_seconds: float,
    keep_last: int = 1,
    min_age_seconds: float = 24 * 3600,
) -> dict:
    """AGE-based retention (Iceberg ``expire_snapshots`` shape): expire
    every version whose manifest was committed more than
    ``older_than_seconds`` ago, but ALWAYS retain the newest ``keep_last``
    (≥ 1) regardless of age — an idle table never loses its current
    version. Data files referenced by any retained manifest survive
    (pinned-read safety: time travel within the retained window keeps
    working); the ``min_age_seconds`` in-flight guard from
    :func:`vacuum_snapshot` applies to unreferenced data files. Composes
    with vacuum_snapshot — run either or both on any cadence."""
    if keep_last < 1:
        raise ValueError("expire_snapshots: keep_last must be >= 1")
    import time

    now = time.time()
    age_cutoff = now - older_than_seconds
    all_versions = _list_versions(table_dir)
    if not all_versions:
        return {"removed_versions": [], "removed_files": 0, "kept_versions": []}
    always = set(all_versions[-keep_last:])
    kept = [
        v
        for v in all_versions
        if v in always or os.path.getmtime(_manifest_path(table_dir, v)) >= age_cutoff
    ]
    return _reap(table_dir, kept, now - min_age_seconds)


def _reap(table_dir: str, kept: list[int], file_cutoff: float) -> dict:
    """Shared retention core: drop every manifest not in ``kept``, then
    delete data files that (a) no retained manifest references and
    (b) are older than ``file_cutoff`` (the in-flight commit guard)."""
    all_versions = _list_versions(table_dir)
    dropped = [v for v in all_versions if v not in kept]
    referenced = {
        e["path"] for v in kept for e in load_manifest(table_dir, v)["files"]
    }
    removed_files = 0
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        # bottom-up walk: partitioned staging dirs nest hive dirs under
        # the commit root; empty dirs collapse after their files go
        for root, dirs, files in os.walk(data_root, topdown=False):
            for f in sorted(files):
                full = os.path.join(root, f)
                if (
                    os.path.relpath(full, table_dir) not in referenced
                    and os.path.getmtime(full) < file_cutoff
                ):
                    os.unlink(full)
                    removed_files += 1
            if root != data_root and not os.listdir(root):
                os.rmdir(root)
    for v in dropped:
        os.unlink(_manifest_path(table_dir, v))
    return {
        "removed_versions": dropped,
        "removed_files": removed_files,
        "kept_versions": list(kept),
    }


def merge_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    key_col: str,
    base_version: int | None = None,
) -> int:
    """Keyed MERGE (upsert) with FILE-LEVEL copy-on-write — the operation
    that makes the snapshot layer a usable lakehouse table instead of an
    append log: rows in ``df`` replace current rows with the same key,
    everything else is untouched, and only the data files that actually
    CONTAIN a matching key are rewritten.

    Mechanics (Delta/Iceberg MERGE's shape, see :func:`_cow_commit`):
    1. keyed probe: the batch's distinct keys come to the driver, the
       manifest's per-file stats and Blooms pick the candidate files, and
       one filtered scan of those finds the TOUCHED files;
    2. rewrite: the touched files' rows whose key is not in the batch,
       plus the whole batch, stage into a fresh immutable dir;
    3. commit: untouched files carry over into the next manifest BY
       REFERENCE (same paths, zero IO), staged files join them; the
       previous version stays fully readable (time travel, crash safety
       — the same _atomic_publish as every other commit).

    At 100 TB the touched set is what partitioning/Z-ordering made it —
    a key-clustered layout turns a 0.1% upsert into rewriting ~0.1% of
    files; an append-then-dedup-on-read design rewrites nothing but taxes
    EVERY subsequent scan. Partitioned lineages keep their hive layout:
    survivors re-stage through the same partition_by.

    Schema evolution (add-column): the batch may CARRY NEW COLUMNS —
    they merge into the manifest schema and earlier rows read back as
    typed NULLs. The batch must still provide every EXISTING column
    (merge replaces whole rows; silently nulling a column the caller
    forgot would be data loss, so that raises instead).

    The batch's distinct keys must fit on the driver (the
    :func:`apply_changes` precondition). Returns the committed version
    number."""
    prev = latest_version(table_dir) if base_version is None else base_version
    if prev is None:
        raise FileNotFoundError(f"no snapshot committed at {table_dir}")
    m = load_manifest(table_dir, prev)
    version = prev + 1
    partition_by = m.get("partition_by") or []
    from pyspark.sql.types import StructType

    table_cols = [f.name for f in StructType.fromJson(m["schema"]).fields]
    missing = [c for c in table_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"merge batch lacks existing columns {missing} — merge replaces "
            "whole rows, so every current column must be supplied"
        )
    schema = _merged_schema(m["schema"], df)
    return _cow_commit(
        spark, table_dir, m, version, key_col,
        keys=driver_keys([df.select(key_col)]),
        insert_df=_conform(df, schema),
        schema=schema,
        mode="merge",
    )


def delete_snapshot(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    keys_df: DataFrame,
    base_version: int | None = None,
) -> int:
    """Keyed DELETE with FILE-LEVEL copy-on-write — the GDPR /
    right-to-be-forgotten primitive: rows whose key appears in
    ``keys_df`` disappear from the next version; only data files that
    actually CONTAIN a matching key are rewritten (survivors re-stage,
    untouched files carry over by reference). Same probe pruning,
    atomic publish, and time-travel behavior as merge_snapshot —
    deleted rows remain readable in PINNED older versions until
    vacuum_snapshot retires them, which is the part a real
    erasure-compliance pass must schedule. The distinct keys must fit on
    the driver (the :func:`apply_changes` precondition).

    Returns the committed version number."""
    prev = latest_version(table_dir) if base_version is None else base_version
    if prev is None:
        raise FileNotFoundError(f"no snapshot committed at {table_dir}")
    m = load_manifest(table_dir, prev)
    return _cow_commit(
        spark, table_dir, m, prev + 1, key_col,
        keys=driver_keys([keys_df]),
        insert_df=None,
        schema=m["schema"],
        mode="delete",
    )


def apply_changes(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    upserts: DataFrame | None,
    delete_keys: DataFrame | None,
    base_version: int | None = None,
) -> int:
    """Mixed CDC batch in ONE commit — the APPLY CHANGES INTO shape:
    ``upserts`` replace/insert their keys, ``delete_keys`` (single
    column) remove theirs, and the copy-on-write core rewrites only the
    files containing ANY affected key. One atomic version per batch, so
    readers never observe the deletes without the upserts (two separate
    merge+delete commits would expose that intermediate state). A key
    present on BOTH sides ends up upserted (the insert wins) — callers
    routing a CDC stream resolve per-key order first and send each key
    to exactly one side (streaming_table_upsert's op_col does this).

    Precondition: the batch's distinct keys fit on the driver. They are
    collected there once (one job) and drive the whole probe, the same
    way the touched-file list and the manifest itself live there. A
    batch that rewrites most of a table is a rebuild: commit it with
    :func:`commit_snapshot` instead. NULL keys match nothing: an upsert
    row with a NULL key is inserted, and stored NULL-key rows survive.

    Returns the committed version number."""
    prev = latest_version(table_dir) if base_version is None else base_version
    if prev is None:
        raise FileNotFoundError(f"no snapshot committed at {table_dir}")
    m = load_manifest(table_dir, prev)
    schema = m["schema"]
    key_frames = []
    insert_df = None
    if upserts is not None:
        from pyspark.sql.types import StructType

        table_cols = [f.name for f in StructType.fromJson(schema).fields]
        missing = [c for c in table_cols if c not in upserts.columns]
        if missing:
            raise ValueError(
                f"CDC upserts lack existing columns {missing} — upserts "
                "replace whole rows, so every current column must be supplied"
            )
        schema = _merged_schema(schema, upserts)
        key_frames.append(upserts.select(key_col))
        insert_df = _conform(upserts, schema)
    if delete_keys is not None:
        key_frames.append(delete_keys)
    if not key_frames:
        raise ValueError("apply_changes needs upserts and/or delete_keys")
    return _cow_commit(
        spark, table_dir, m, prev + 1, key_col,
        keys=driver_keys(key_frames), insert_df=insert_df, schema=schema,
        mode="cdc",
    )


def driver_keys(frames: list[DataFrame]) -> list:
    """The distinct non-NULL values of the single-column ``frames``,
    collected to the driver in ONE job (a union of their scans, no
    shuffle) and deduplicated there in first-seen order."""
    cols = [f.select(F.col(f.columns[0]).alias("_k")) for f in frames]
    union = cols[0]
    for c in cols[1:]:
        union = union.unionByName(c)
    keys = (r[0] for r in union.collect())
    return list(dict.fromkeys(
        bytes(k) if isinstance(k, bytearray) else k for k in keys if k is not None
    ))


def keys_in(col: str, keys: list) -> Column:
    """``col IN (keys)`` for a non-empty driver-side key list: one
    Spark-SQL expression when every key has a literal form (str, int,
    float, bool), else ``Column.isin``."""
    from connapse_spark.functions.vector import spark_sql_values

    try:
        return F.expr(f"`{col.replace('`', '``')}` IN ({spark_sql_values(keys)})")
    except TypeError:
        return F.col(col).isin(keys)


def _uri_to_table_rel(p: str, table_dir: str) -> str:
    """``_metadata.file_path`` URI → table-relative manifest path. Handles
    file:/abs, file:///abs, percent-encoded characters, and bare paths; any
    OTHER scheme fails loudly instead of producing a nonsense relpath (the
    r5 ADVICE scheme-handling gap — this snapshot layer is local-filesystem
    based by construction: os.link is its commit primitive)."""
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    if u.scheme == "file":
        return os.path.relpath(unquote(u.path), table_dir)
    if u.scheme == "":
        return os.path.relpath(p, table_dir)
    raise ValueError(
        f"snapshot layer: unsupported file URI scheme '{u.scheme}' in {p!r}; "
        "manifest-committed tables live on a local/POSIX filesystem "
        "(os.link is the commit primitive)"
    )


def _cow_commit(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    version: int,
    key_col: str,
    keys: list,
    insert_df: DataFrame | None,
    schema: dict,
    mode: str,
) -> int:
    """Shared copy-on-write core of merge/delete/apply_changes, keyed by a
    driver-side list of distinct non-NULL ``keys`` (:func:`driver_keys`):

    1. candidates: :func:`prune_files_keys` keeps the files whose per-key
       [min, max] stats and Bloom filter admit at least one key — metadata
       only, no IO;
    2. touched: one filtered scan of the candidates collects the
       ``_src_file`` of every row whose key is in ``keys``, so a Bloom
       false positive costs a read, never a rewrite;
    3. survivors: the touched files' rows whose key is NULL or not in
       ``keys`` re-stage together with ``insert_df`` (blooms inherited);
    4. untouched files carry over by reference, then the atomic publish.

    No shuffle and no join: a commit costs the key collect, the candidate
    scan, the staging write and its bloom build."""
    partition_by = m.get("partition_by") or []
    touched: set[str] = set()
    if keys:
        hit = keys_in(key_col, keys)
        candidates = {e["path"] for e in prune_files_keys(m, key_col, keys)}
        if candidates:
            probe = _read_conformed(
                spark, table_dir, m, keep=candidates, with_source=True
            )
            # one row per matching stored row (bounded by the key set for
            # unique keys); _metadata.file_path is a URI, manifest paths
            # are table-relative
            touched = {
                _uri_to_table_rel(r[0], table_dir)
                for r in probe.filter(hit).select("_src_file").collect()
            }
            if not touched <= candidates:
                # a path that matches no manifest entry would carry its
                # file over whole, deleted keys included
                raise RuntimeError(
                    f"copy-on-write probe at {table_dir} resolved files outside "
                    f"the manifest: {sorted(touched - candidates)[:3]}"
                )
    staged = insert_df
    if touched:
        survivors = _conform(
            _read_conformed(spark, table_dir, m, keep=touched).filter(
                F.col(key_col).isNull() | ~hit
            ),
            schema,
        )
        staged = survivors if staged is None else survivors.unionByName(staged)
    bases: dict[str, list[dict]] = {}
    if staged is not None:  # a delete that touched no file stages nothing
        # bloom columns SELF-PROPAGATE across incremental rewrites: whatever
        # columns the base version's files track, the restaged files track
        # too — an apply_changes/merge lineage keeps its point-lookup index
        # without every caller re-plumbing bloom_cols (r9)
        inherited_blooms = sorted(
            {c for e in m["files"] for c in (e.get("blooms") or {})}
        )
        rel_dir, new_entries = _stage_files(
            staged, table_dir, version, partition_by or None,
            bloom_cols=inherited_blooms or None,
        )
        bases[rel_dir] = new_entries
    for base, fs in _manifest_bases(m).items():
        kept = [e for e in fs if e["path"] not in touched]
        if kept:
            bases.setdefault(base, []).extend(kept)
    all_files = [e for fs in bases.values() for e in fs]
    _atomic_publish(
        table_dir,
        version,
        {
            "files": all_files,
            "bases": bases,
            "partition_by": partition_by,
            "schema": schema,
            "mode": mode,
        },
    )
    return version


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE on the snapshot layer: bin-pack the CURRENT version's
    files (metadata-only planning via the manifest), rewrite each bin to
    one new immutable file, and commit the rewritten file list as the
    next version. The previous version remains fully readable — crash at
    any point leaves either the old or the new version, never a mix.
    Returns the new version number."""
    from connapse_spark.sources import sinks

    prev = latest_version(table_dir)
    if prev is None:
        raise FileNotFoundError(f"no snapshot committed at {table_dir}")
    m = load_manifest(table_dir, prev)
    version = prev + 1
    # listing keyed by PARTITION-relative dir (staging roots stripped),
    # so bins merge small files across commits WITHIN a partition — the
    # whole point of compacting an append lineage; `file` carries the
    # full relative path (unique across roots, deterministic order)
    rows = []
    for base, fs in _manifest_bases(m).items():
        for e in fs:
            pdir = os.path.dirname(os.path.relpath(e["path"], base)) or "."
            rows.append((pdir, e["path"], e["size_bytes"]))
    listing = spark.createDataFrame(
        rows, "dir string, file string, size_bytes long"
    )
    # the ONE packing rule (sinks.assign_bins) — compaction_plan is its
    # aggregate view, so output files match the plan by construction
    assign = sinks.assign_bins(listing, target_bytes).collect()
    bins: dict[tuple[str, int], list[str]] = {}
    for r in assign:
        bins.setdefault((r["dir"], r["group"]), []).append(
            os.path.join(table_dir, r["file"])
        )
    rel_dir = os.path.join("data", f"c{version:06d}-{uuid.uuid4().hex[:8]}")
    out_dir = os.path.join(table_dir, rel_dir)
    os.makedirs(out_dir, exist_ok=True)
    # bloom columns self-propagate across rewrites here too (the
    # _cow_commit invariant): compacting a bloomed store must not
    # silently disable its point-lookup index
    inherited_blooms = sorted(
        {c for e in m["files"] for c in (e.get("blooms") or {})}
    )
    entries = []
    for i, key in enumerate(sorted(bins)):
        # a partitioned table's hive dirs are part of the layout — each
        # bin rewrites INSIDE its partition dir so the compacted version
        # keeps pruning (the bin's `dir` is relative to a staging root,
        # e.g. "list_id=3", or "." for unpartitioned tables)
        bin_dir, _g = key
        sub = os.path.normpath(os.path.join(out_dir, bin_dir))
        os.makedirs(sub, exist_ok=True)
        out_file = os.path.join(sub, f"compact-{i:05d}.parquet")
        sinks.compact_group(spark, sorted(bins[key]), out_file)
        entries.append(
            {
                "path": os.path.relpath(out_file, table_dir),
                "size_bytes": os.path.getsize(out_file),
                # compaction must not silently disable data skipping
                "stats": _footer_stats(out_file),
            }
        )
    if inherited_blooms and entries:
        # same executor fan-out as staging commits — a driver loop here
        # would serialize the one data-touching step over the whole
        # compacted store
        by_path = _distributed_blooms(
            spark, table_dir, [e["path"] for e in entries], inherited_blooms
        )
        for e in entries:
            blooms = by_path.get(e["path"])
            if blooms:
                e["blooms"] = blooms
    _atomic_publish(
        table_dir,
        version,
        {
            "files": entries,
            "bases": {rel_dir: entries},
            "partition_by": m.get("partition_by") or [],
            "schema": m["schema"],
            "mode": "compact",
        },
    )
    return version
