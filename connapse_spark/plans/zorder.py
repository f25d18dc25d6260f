"""Z-order (Morton) clustering — layout-as-index for MULTI-column pruning.

The bucketed sink (sources/sinks.py write_bucketed) co-locates one join
key; min/max row-group pruning after a plain sort helps one filter column.
When probes filter on TWO dimensions (customer AND date, domain AND
quality band), a linear sort on either leaves the other unclustered. The
standard lakehouse answer (Delta OPTIMIZE ZORDER, Iceberg sort orders;
Morton 1966) interleaves the bits of both keys so rows close in EITHER
dimension land in the same files: after repartitionByRange +
sortWithinPartitions on the z-value, every file's min/max envelope is
narrow on BOTH columns and parquet row-group skipping fires for either
predicate.

All integer bit arithmetic — the DuckDB mirror is exact, and the z-key is
deterministic under any partitioning.

Scale (100 TB): one hash shuffle of the payload (the same cost as any
clustered write); the z-key itself is a map-side projection. Range
boundaries come from two KEY-ONLY column-pruned passes (min/max stats +
approxQuantile) — never from repartitionByRange's boundary sampling,
which executes the full payload child a second time. Probes pay zero:
pruning is parquet-stat skipping on the natural columns, no key rewrite
at read time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key_expr(cols: list[Column], bits: int = 16) -> Column:
    """Morton-interleave ``bits`` low bits of each column (values are
    masked into [0, 2^bits); callers normalize wider domains first —
    rank/bucket/epoch-day — exactly like Delta's range-id preprocessing).
    Bit i of column c lands at output bit i·n_cols + c: literal shifts
    only, no UDF, whole-stage codegen."""
    n = len(cols)
    if not 1 <= n * bits <= 63:
        raise ValueError("n_cols * bits must fit a signed 64-bit key")
    acc = F.lit(0).cast("bigint")
    for ci, col in enumerate(cols):
        v = col.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
        for i in range(bits):
            acc = acc + F.shiftleft(
                F.shiftright(v, i).bitwiseAND(F.lit(1)), i * n + ci
            ).cast("bigint")
    return acc


def sql_zorder_key(cols: list[str], bits: int = 16) -> str:
    """DuckDB mirror — same masks and shifts, term for term."""
    n = len(cols)
    terms = []
    for ci, c in enumerate(cols):
        v = f"(CAST({c} AS BIGINT) & {(1 << bits) - 1})"
        for i in range(bits):
            terms.append(f"((({v} >> {i}) & 1) << {i * n + ci})")
    return "(" + " + ".join(terms) + ")"


def normalized_zorder_cols(
    df: DataFrame, cols: list[str], bits: int = 16
) -> list[Column]:
    """Min/max-scale every key column onto the SAME [0, 2^bits) domain
    before interleaving. This is not cosmetic: with mismatched widths
    (custkey in [0,150) vs orderkey in [0,15000)) every significant z-bit
    comes from the wide column and the layout silently degrades to a
    single-column sort — the exact failure
    tests/test_round3.py::test_write_zordered_narrows_both_dimensions
    pins. Delta's OPTIMIZE ZORDER does the same via range-ids.

    The min/max pass is one tiny aggregate (at 100 TB read it from catalog
    column stats instead — same two numbers per column, zero scans)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    stats = df.agg(*aggs).collect()[0]
    out = []
    top = (1 << bits) - 1
    for c in cols:
        lo, hi = stats[f"_lo_{c}"], stats[f"_hi_{c}"]
        if lo is None or hi is None:  # empty input: any constant key works
            lo, hi = 0, 0
        rng = max(hi - lo, 1)
        out.append(
            ((F.col(c) - F.lit(lo)).cast("double") * top / rng).cast("bigint")
        )
    return out


_ROUTE_CACHE: dict[int, list[int]] = {}


def _exact_route_values(spark, n: int) -> list[int]:
    """Bigint literals v_0..v_{n-1} with pmod(murmur3(v_i), n) == i.

    DataFrame ``repartition(n, col)`` places a row in partition
    pmod(hash(col), n) — the same Murmur3 expression ``F.hash`` exposes —
    so routing through these values sends pid i to partition i exactly:
    an EXPLICIT range assignment carried by one ordinary hash shuffle,
    with no boundary-sampling pass. The search is pure integer math over
    spark.range (no data scan) and is memoized per n. Murmur3 hashes int
    and bigint DIFFERENTLY, so the slot search and the route column must
    agree on the type: both are pinned to IntegerType here."""
    if n in _ROUTE_CACHE:
        return _ROUTE_CACHE[n]
    rows = (
        spark.range(256 * n)
        .select(
            "id",
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("slot"),
        )
        .collect()
    )
    slots: dict[int, int] = {}
    for r in rows:
        slots.setdefault(r["slot"], r["id"])
    if len(slots) < n:  # astronomically unlikely with 256n candidates
        raise RuntimeError(f"hash-slot search found {len(slots)}/{n} slots")
    _ROUTE_CACHE[n] = [slots[i] for i in range(n)]
    return _ROUTE_CACHE[n]


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Cluster-and-write: normalize key domains → z-key projection → route
    each row to its z-range's partition (one hash shuffle) → sort within
    partitions → parquet. The z-key is NOT written — it is a layout
    decision, not data; re-deriving it is a projection away.

    Range boundaries are computed from a KEY-ONLY projection
    (approxQuantile over just the z-key — a column-pruned pass), not by
    ``repartitionByRange``: Spark's range partitioner samples boundaries
    by executing its child, and here the child carries the full caller
    payload, so at 100 TB every payload byte would be read/computed twice.
    With explicit boundaries + hash-slot routing (``_exact_route_values``)
    the payload plan executes exactly once — the shuffle itself
    (tests/test_round3.py::test_write_zordered_payload_executes_once pins
    this with an accumulator on a payload UDF).

    The z-key is at most 53 bits wide (``len(cols) * bits <= 53``): the
    range boundaries come back from approxQuantile as doubles, which hold
    integers exactly only up to 2^53."""
    if len(cols) * bits > 53:
        raise ValueError(
            f"z-key of {len(cols)} cols x {bits} bits exceeds the 53 bits "
            "a double quantile boundary represents exactly"
        )
    zcols = normalized_zorder_cols(df, cols, bits)  # one key-only stats agg
    zkey = zorder_key_expr(zcols, bits)
    probs = [i / n_files for i in range(1, n_files)]
    bounds = df.select(zkey.alias("_zkey")).approxQuantile("_zkey", probs, 0.001)
    pid = F.lit(0)
    for b in sorted({int(b) for b in bounds if b is not None}):
        # null z-keys take every otherwise(0) branch → pid 0, matching the
        # nulls-first placement of the old range partitioning
        pid = pid + F.when(F.col("_zkey") > F.lit(b), 1).otherwise(0)
    route_vals = _exact_route_values(df.sparkSession, n_files)
    route = F.element_at(
        F.array(*[F.lit(v).cast("int") for v in route_vals]),
        pid.cast("int") + F.lit(1),
    )
    (
        df.withColumn("_zkey", zkey)
        .withColumn("_route", route)
        .repartition(n_files, "_route")
        .sortWithinPartitions("_zkey")
        .drop("_zkey", "_route")
        .write.mode("overwrite")
        .parquet(path)
    )
