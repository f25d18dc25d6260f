"""Product quantization (PQ) — compressed-vector ANN for the 100 TB regime.

The reference's vector index is IVFFlat (VectorColumnManager.cs:14-194):
every probe still reads full float vectors. At 100 TB of embeddings the
scan is IO-bound, so the standard scale move (Jégou, Douze & Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the PQ
half of FAISS's IVFPQ) is to store each vector as a handful of codebook
codes and score queries against a small distance look-up table (ADC,
asymmetric distance computation):

* split the d-dim vector into ``m`` subspaces of ``d/m`` dims;
* per subspace, learn a tiny codebook of ``k`` centroids;
* store each vector as m log2(k)-bit codes — here m=8, k=16 → **4 bytes
  per vector vs 256 bytes of float32** (64×) or 512 bytes of float64;
* at query time compute the m×k table of d(q_sub, centroid) ONCE, then
  score every stored vector with m table lookups — no float math per row.

Determinism / oracle story: like the seeded-IVF twin (plans/ivf.py:342),
codebooks are NOT trained by an iterative fitter — codebook[s] is the
s-th subvector slice of the ``k`` lowest-id vectors. That makes encode,
reconstruction error, and the ADC top-k pure functions of the input
table, mirrored exactly in DuckDB SQL (same left-fold FP order via
functions/vector.sql_l2sq). The production fit is
:func:`pq_codebooks_trained` — per-subspace sampled MLlib KMeans exactly
as build_ivf_index trains its coarse centroids; it returns the same
one-row frame, so every plan below is unchanged by the swap (plan-pinned
in tests/test_pq.py) and trained recall ≥ seeded recall is asserted
there too.

Scale notes (100 TB):
* the codebook row is ONE broadcast row (m·k·(d/m) doubles = 8 KiB here);
  encode is a map-side fold — no shuffle, partitioning inherits the scan;
* the stored artifact is (id, pq_code) — a 4-byte column; probe scans
  read ONLY that column (parquet column pruning), so probe IO drops ~64×;
* the ADC look-up table is m·k doubles (1 KiB) broadcast per query;
  scoring is integer shifts + array indexing inside whole-stage codegen;
* global top-k is orderBy+limit → TakeOrderedAndProject (per-partition
  partial top-k, no full sort, no shuffle of non-winners).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connapse_spark.functions.vector import (
    bind_once as _bind,
    l2sq_expr,
    sql_l2sq,
    to_double_array,
)

# ---------------------------------------------------------------------------
# Codebooks
# ---------------------------------------------------------------------------


def pq_codebooks(
    vectors: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE-row frame: ``_books[s][j]`` = subspace-``s`` slice of the j-th
    lowest-id vector (j = 0..n_codes-1). Deterministic stand-in for
    per-subspace KMeans; the k lowest ids are taken with orderBy+limit
    (TakeOrdered — NOT ``id < k``, which breaks on sparse id spaces)."""
    sub_d = dims // n_subspaces
    seeds = (
        vectors.orderBy(F.col(id_col))
        .limit(n_codes)
        .select(
            F.col(id_col).cast("bigint").alias("sid"),
            to_double_array(F.col(vec_col)).alias("v"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("sid", "v"))).alias("_sv"))
    )
    books = F.transform(
        F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
        lambda s: F.transform(
            F.col("_sv"), lambda sv: F.slice(sv["v"], s * sub_d + 1, sub_d)
        ),
    )
    return seeds.select(books.alias("_books"))


def pq_codebooks_trained(
    vectors: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """PRODUCTION codebooks: per-subspace sampled KMeans (the FAISS
    recipe — Jégou 2011 §III trains each sub-quantizer independently),
    fitted with MLlib exactly as ``build_ivf_index`` trains its coarse
    centroids (plans/ivf.py:185). At 100 TB you pass ``sample_fraction``
    so the m tiny fits see ~1M rows, never the corpus.

    Output is the SAME one-row ``_books`` frame as :func:`pq_codebooks`
    (seeded twin): the fitted centers come back as one broadcast row, so
    encode / ADC probe / IVFPQ plans are unchanged by the swap —
    plan-pinned in tests/test_pq.py. Centers are sorted lexicographically
    per subspace so the codebook (and hence every packed code) is a
    stable function of the fit, not of MLlib's internal center order."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub_d = dims // n_subspaces
    base = vectors.select(to_double_array(F.col(vec_col)).alias("v"))
    if sample_fraction is not None:
        base = base.sample(sample_fraction, seed=seed)
    base = base.persist()
    try:
        books: list[list[list[float]]] = []
        for s in range(n_subspaces):
            sub = base.select(
                array_to_vector(
                    F.slice(F.col("v"), s * sub_d + 1, sub_d)
                ).alias("features")
            )
            km = KMeans(
                k=n_codes, seed=seed + s, featuresCol="features",
                predictionCol="_c",
            )
            centers = [
                [float(x) for x in c] for c in km.fit(sub).clusterCenters()
            ]
            books.append(sorted(centers))
        return vectors.sparkSession.createDataFrame(
            [(books,)], "_books array<array<array<double>>>"
        )
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# Encode (fused per-vector fold — map-side only)
# ---------------------------------------------------------------------------


def _best_codes(v: Column, books: Column, n_subspaces: int, sub_d: int) -> Column:
    """array over s of struct(s, code, d, cvec): the argmin-L2 codebook
    entry per subspace. Strict ``<`` keeps the LOWEST code on bit-equal
    ties — the SQL mirror orders by (d, code).

    The input vector and each subspace slice are BOUND once (r11 §14):
    Catalyst HOFs run interpreted with no subexpression elimination, so
    the unbound form re-evaluated ``slice(v, ...)`` — and through it the
    full ``v`` expression (for the encode callers, a d-element cast) —
    inside every one of the n_codes zip_with bodies: m·k cast+slice
    evaluations per row where 1 cast + m slices suffice. Same folds,
    same order — bit-identical codes and distances."""

    def best_over(vv: Column) -> Column:
        def best_for(s: Column) -> Column:
            book = F.get(books, s)

            def with_sub(sub: Column) -> Column:
                acc0 = F.struct(
                    s.cast("int").alias("s"),
                    F.lit(-1).alias("code"),
                    F.lit(float("inf")).alias("d"),
                    F.array().cast("array<double>").alias("cvec"),
                )
                scored = F.zip_with(
                    book,
                    F.sequence(F.lit(0), F.size(book) - 1),
                    lambda cv, j: F.struct(
                        s.cast("int").alias("s"),
                        j.alias("code"),
                        l2sq_expr(sub, cv).alias("d"),
                        cv.alias("cvec"),
                    ),
                )
                return F.aggregate(
                    scored, acc0,
                    lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
                )

            return _bind(F.slice(vv, s * sub_d + 1, sub_d), with_sub)

        return F.transform(F.sequence(F.lit(0), F.lit(n_subspaces - 1)), best_for)

    return _bind(v, best_over)


def _pack(bests: Column, n_codes: int) -> Column:
    """Big-endian integer pack: fold acc·k + code over subspace order.
    Integer math — no FP order concerns; m=8, k=16 fits in 32 bits."""
    return F.aggregate(
        bests,
        F.lit(0).cast("bigint"),
        lambda acc, b: acc * n_codes + b["code"],
    )


def pq_encode(
    vectors: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: DataFrame | None = None,
) -> DataFrame:
    """(id, pq_code, recon_err): the stored PQ artifact plus the exact
    quantization error Σ_s min_j d(v_s, c_sj) — the number a codebook
    refresh job would monitor for drift. One broadcast row in, map-side
    fold out; writing (id, pq_code) partitioned like the source keeps the
    index co-located with its corpus. ``books`` defaults to the seeded
    deterministic codebooks (oracle twin); pass
    :func:`pq_codebooks_trained` for the production fit — the plan is
    identical either way."""
    sub_d = dims // n_subspaces
    if books is None:
        books = pq_codebooks(vectors, n_subspaces, n_codes, dims, id_col, vec_col)
    v = to_double_array(F.col(vec_col))
    bests = _best_codes(v, F.col("_books"), n_subspaces, sub_d)
    # bests is consumed TWICE (pack + error sum); materialize it through a
    # projection boundary so the m·k argmin fold runs once per row, not
    # twice (r11 §14 — multi-referenced non-cheap columns survive
    # CollapseProject, same discipline as the textstats stat columns).
    return (
        vectors.crossJoin(F.broadcast(books))
        .select(F.col(id_col), bests.alias("_bests"))
        .select(
            F.col(id_col),
            _pack(F.col("_bests"), n_codes).alias("pq_code"),
            F.aggregate(
                F.col("_bests"), F.lit(0.0), lambda acc, b: acc + b["d"]
            ).alias("recon_err"),
        )
    )


def sql_pq_encode(
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB mirror of :func:`pq_encode`. Same seeds (k lowest ids), same
    argmin tie-break (ORDER BY d, code), same left-fold FP order for the
    error sum (list(d ORDER BY s) prepended with 0.0)."""
    sub_d = dims // n_subspaces
    sl = f"list_slice(b.v, bk.s * {sub_d} + 1, bk.s * {sub_d} + {sub_d})"
    return f"""
WITH base AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
seeds AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS code, v
  FROM base ORDER BY {id_col} LIMIT {n_codes}
),
books AS (
  SELECT ss.s, seeds.code,
         list_slice(seeds.v, ss.s * {sub_d} + 1, ss.s * {sub_d} + {sub_d}) AS cvec
  FROM seeds CROSS JOIN (SELECT unnest(range(0, {n_subspaces})) AS s) ss
),
dists AS (
  SELECT b.{id_col}, bk.s, bk.code, {sql_l2sq(sl, "bk.cvec")} AS d
  FROM base b CROSS JOIN books bk
),
best AS (
  SELECT {id_col}, s, code, d FROM (
    SELECT *, row_number() OVER (PARTITION BY {id_col}, s ORDER BY d, code) AS rk
    FROM dists
  ) WHERE rk = 1
)
SELECT {id_col},
  list_reduce(list_prepend(0::BIGINT, list(code ORDER BY s)),
              (acc, c) -> acc * {n_codes} + c) AS pq_code,
  list_reduce(list_prepend(0.0, list(d ORDER BY s)), (acc, v) -> acc + v) AS recon_err
FROM best GROUP BY {id_col}
""".strip()


# ---------------------------------------------------------------------------
# ADC top-k (fused: encode + score in one pass, oracle-checkable)
# ---------------------------------------------------------------------------


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: every corpus vector is scored by the L2
    distance from the QUERY subvectors to the vector's CHOSEN codebook
    entries — the query side stays un-quantized (that is the "asymmetric"
    in ADC; it halves the quantization error vs symmetric code-to-code).

    ``queries`` must be a one-row frame with a ``_qv`` array<double>
    column (broadcast). Fused shape so DuckDB can mirror it; the
    production probe over a STORED (id, pq_code) column is
    :func:`pq_probe_codes`, unit-tested bit-equal to this path."""
    sub_d = dims // n_subspaces
    if books is None:
        books = pq_codebooks(vectors, n_subspaces, n_codes, dims, id_col, vec_col)
    v = to_double_array(F.col(vec_col))
    bests = _best_codes(v, F.col("_books"), n_subspaces, sub_d)
    adc = F.aggregate(
        bests,
        F.lit(0.0),
        lambda acc, b: acc
        + l2sq_expr(F.slice(F.col("_qv"), b["s"] * sub_d + 1, sub_d), b["cvec"]),
    )
    return (
        vectors.crossJoin(F.broadcast(books))
        .crossJoin(F.broadcast(queries))
        .select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist"), F.col(id_col))
        .limit(k)
    )


def sql_pq_topk(
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    query_id: int = 0,
) -> str:
    sub_d = dims // n_subspaces
    sl = f"list_slice(b.v, bk.s * {sub_d} + 1, bk.s * {sub_d} + {sub_d})"
    qsl = f"list_slice(q.qv, best.s * {sub_d} + 1, best.s * {sub_d} + {sub_d})"
    return f"""
WITH base AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
q AS (SELECT v AS qv FROM base WHERE {id_col} = {query_id}),
seeds AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS code, v
  FROM base ORDER BY {id_col} LIMIT {n_codes}
),
books AS (
  SELECT ss.s, seeds.code,
         list_slice(seeds.v, ss.s * {sub_d} + 1, ss.s * {sub_d} + {sub_d}) AS cvec
  FROM seeds CROSS JOIN (SELECT unnest(range(0, {n_subspaces})) AS s) ss
),
dists AS (
  SELECT b.{id_col}, bk.s, bk.code, bk.cvec, {sql_l2sq(sl, "bk.cvec")} AS d
  FROM base b CROSS JOIN books bk
),
best AS (
  SELECT {id_col}, s, code, cvec FROM (
    SELECT *, row_number() OVER (PARTITION BY {id_col}, s ORDER BY d, code) AS rk
    FROM dists
  ) WHERE rk = 1
),
adc AS (
  SELECT best.{id_col}, best.s, {sql_l2sq(qsl, "best.cvec")} AS qd
  FROM best, q
)
SELECT {id_col},
  list_reduce(list_prepend(0.0, list(qd ORDER BY s)), (acc, v) -> acc + v) AS adc_dist
FROM adc GROUP BY {id_col}
ORDER BY adc_dist, {id_col} LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Production probe: stored codes + broadcast LUT (the 100 TB path)
# ---------------------------------------------------------------------------


def _adc_from_packed(n_subspaces: int, n_codes: int) -> Column:
    """ADC distance from a packed ``pq_code`` column and a ``_lut`` column:
    unpack big-endian (code_s = (pq_code >> bits·(m-1-s)) & (k-1)), add the
    m LUT entries in s-ascending order — the same FP order as the fused
    fold, so the two paths are bit-equal. k must be a power of two for the
    shift form."""
    if n_codes & (n_codes - 1):
        raise ValueError("packed-code probe requires power-of-two n_codes")
    bits = n_codes.bit_length() - 1
    dist = F.lit(0.0)
    for s in range(n_subspaces):
        code_s = F.shiftright(F.col("pq_code"), bits * (n_subspaces - 1 - s)).bitwiseAND(
            F.lit(n_codes - 1)
        )
        dist = dist + F.get(F.get(F.col("_lut"), s), code_s.cast("int"))
    return dist


def pq_probe_codes(
    codes: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Score a STORED (id, pq_code) table: build the m×k look-up table
    d(q_sub_s, c_sj) once from the broadcast codebook row, then each row
    costs m integer shifts + m array lookups — the parquet scan reads only
    the 4-byte code column. Bit-equal to :func:`pq_topk` (unit-tested):
    the LUT entries are the same ``sql_l2sq``-order folds, added in the
    same s-ascending order."""
    sub_d = dims // n_subspaces
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
        lambda s: F.transform(
            F.get(F.col("_books"), s),
            lambda cv: l2sq_expr(F.slice(F.col("_qv"), s * sub_d + 1, sub_d), cv),
        ),
    )
    lut_row = books.crossJoin(F.broadcast(queries)).select(lut.alias("_lut"))
    dist = _adc_from_packed(n_subspaces, n_codes)
    return (
        codes.crossJoin(F.broadcast(lut_row))
        .select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF + PQ (the IVFPQ composition: prune lists, then score 4-byte codes)
# ---------------------------------------------------------------------------


def ivfpq_build(
    vectors: DataFrame,
    n_lists: int = 8,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The FAISS-IVFPQ storage layout on Spark: every vector stored as
    (id, list_id, pq_code) — 4-byte code + a routing key — plus the two
    tiny broadcast artifacts (global PQ codebooks, IVF centroids). Written
    partitioned by list_id, a probe reads nprobe/n_lists of the files and
    only the code column within them: IO drops by BOTH factors
    (nprobe/n_lists × 64). Deterministic twin like build_ivf_index_seeded
    (plans/ivf.py:342): centroids = the n_lists lowest-id vectors, PQ
    codebooks = sub-slices of the n_codes lowest-id vectors — a production
    build swaps in sampled KMeans for both without touching any plan.

    Returns (codes, books, centroids)."""
    from connapse_spark.operators.similarity import cluster_assign

    sub_d = dims // n_subspaces
    books = pq_codebooks(vectors, n_subspaces, n_codes, dims, id_col, vec_col)
    assigned = cluster_assign(
        vectors, k=n_lists, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    bests = _best_codes(F.col("_v"), F.col("_books"), n_subspaces, sub_d)
    codes = (
        assigned.crossJoin(F.broadcast(books))
        .select(
            F.col(id_col).alias("id"),
            F.col("cluster").alias("list_id"),
            _pack(bests, n_codes).alias("pq_code"),
        )
    )
    centroids = (
        vectors.orderBy(F.col(id_col))
        .limit(n_lists)
        .select(
            F.col(id_col).cast("bigint").alias("list_id"),
            to_double_array(F.col(vec_col)).alias("centroid"),
        )
    )
    return codes, books, centroids


def ivfpq_probe(
    codes: DataFrame,
    books: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
) -> DataFrame:
    """Probe the IVFPQ index: rank centroids by cosine to the query ON THE
    DRIVER (the same ``plans.ivf.probe_list_ids`` ranking as ann_ivf_topk —
    the centroid table is ≤100 rows by policy), scan
    only ``list_id IN (probe set)`` (partition pruning on the stored
    layout), score the 4-byte codes against the broadcast m×k LUT, top-k.

    Output: (id, list_id, adc_dist) ascending — ADC is a DISTANCE; the
    cosine probes elsewhere return descending similarities."""
    from connapse_spark.plans.ivf import probe_list_ids

    sub_d = dims // n_subspaces
    probe_ids = [int(lid) for lid in probe_list_ids(centroids, query_vec, nprobe)]

    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
        lambda s: F.transform(
            F.get(F.col("_books"), s),
            lambda cv: l2sq_expr(F.slice(qv, s * sub_d + 1, sub_d), cv),
        ),
    )
    lut_row = books.select(lut.alias("_lut"))
    return (
        codes.filter(F.col("list_id").isin(probe_ids))
        .crossJoin(F.broadcast(lut_row))
        .select(
            "id",
            "list_id",
            _adc_from_packed(n_subspaces, n_codes).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist"), F.col("id"))
        .limit(k)
    )


def sql_ann_ivfpq(
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    n_lists: int = 8,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """Mirror of ivfpq_build + ivfpq_probe: cluster assignment and probe
    ranking from the seeded-IVF mirror (plans/ivf.py:377), PQ best-code and
    ADC folds from the PQ mirrors — all the same FP orders."""
    from connapse_spark.functions.embed import sql_vector_literal
    from connapse_spark.functions.vector import sql_cosine
    from connapse_spark.operators.similarity import sql_cluster_assign

    sub_d = dims // n_subspaces
    qv = sql_vector_literal(query_vec)
    sl = f"list_slice(b.v, bk.s * {sub_d} + 1, bk.s * {sub_d} + {sub_d})"
    qsl = f"list_slice(q.qv, best.s * {sub_d} + 1, best.s * {sub_d} + {sub_d})"
    return f"""
WITH q AS (SELECT {qv} AS qv),
assigned AS ({sql_cluster_assign(n_lists, id_col=id_col, vec_col=vec_col, table=table)}),
cents AS (SELECT CAST({id_col} AS BIGINT) AS list_id, CAST({vec_col} AS DOUBLE[]) AS centroid
          FROM {table} ORDER BY {id_col} LIMIT {n_lists}),
probe AS (
  SELECT list_id FROM (
    SELECT list_id, {sql_cosine("centroid", "qv")} AS s FROM cents, q
  ) ORDER BY s DESC, list_id LIMIT {nprobe}
),
base AS (
  SELECT e.{id_col}, a.cluster AS list_id, CAST(e.{vec_col} AS DOUBLE[]) AS v
  FROM {table} e JOIN assigned a USING ({id_col}) JOIN probe p ON a.cluster = p.list_id
),
seeds AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS code, CAST({vec_col} AS DOUBLE[]) AS v
  FROM {table} ORDER BY {id_col} LIMIT {n_codes}
),
books AS (
  SELECT ss.s, seeds.code,
         list_slice(seeds.v, ss.s * {sub_d} + 1, ss.s * {sub_d} + {sub_d}) AS cvec
  FROM seeds CROSS JOIN (SELECT unnest(range(0, {n_subspaces})) AS s) ss
),
dists AS (
  SELECT b.{id_col}, b.list_id, bk.s, bk.code, bk.cvec, {sql_l2sq(sl, "bk.cvec")} AS d
  FROM base b CROSS JOIN books bk
),
best AS (
  SELECT {id_col}, list_id, s, cvec FROM (
    SELECT *, row_number() OVER (PARTITION BY {id_col}, s ORDER BY d, code) AS rk
    FROM dists
  ) WHERE rk = 1
),
adc AS (
  SELECT best.{id_col}, best.list_id, best.s, {sql_l2sq(qsl, "best.cvec")} AS qd
  FROM best, q
)
SELECT {id_col} AS id, list_id,
  list_reduce(list_prepend(0.0, list(qd ORDER BY s)), (acc, v) -> acc + v) AS adc_dist
FROM adc GROUP BY {id_col}, list_id
ORDER BY adc_dist, id LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Recall gauge — quantization loss, measured not guessed
# ---------------------------------------------------------------------------


def pq_recall(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: DataFrame | None = None,
) -> DataFrame:
    """ONE row: recall@k of the PQ-ADC top-k against the EXACT squared-L2
    top-k for the same query — the acceptance metric an index rollout
    gates on (FAISS reports exactly this). Same-metric comparison (L2 vs
    L2), so the number isolates pure quantization loss, not metric
    mismatch.

    Both top-k sets are tiny (k rows); the join and count are driver-scale.
    Corpus cost = one exact scan + one fused-ADC scan."""
    exact = (
        vectors.crossJoin(F.broadcast(queries))
        .select(
            F.col(id_col),
            l2sq_expr(to_double_array(F.col(vec_col)), F.col("_qv")).alias("d"),
        )
        .orderBy(F.col("d"), F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("id_exact"))
    )
    approx = pq_topk(
        vectors, queries, k, n_subspaces, n_codes, dims, id_col, vec_col,
        books=books,
    ).select(F.col(id_col).alias("id_approx"))
    hit = exact.join(approx, exact.id_exact == approx.id_approx).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return hit.select(
        F.lit(k).cast("bigint").alias("k"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        (F.col("n_overlap") / F.lit(float(k))).alias("recall_at_k"),
    )


def sql_pq_recall(
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    query_id: int = 0,
) -> str:
    from connapse_spark.functions.vector import sql_l2sq as _l2

    qd = _l2(f"CAST(e.{vec_col} AS DOUBLE[])", "q.qv")
    return f"""
WITH q AS (SELECT CAST({vec_col} AS DOUBLE[]) AS qv FROM {table} WHERE {id_col} = {query_id}),
exact AS (
  SELECT e.{id_col} AS id_exact FROM {table} e, q
  ORDER BY {qd}, e.{id_col} LIMIT {k}
),
approx AS (
  SELECT {id_col} AS id_approx FROM ({sql_pq_topk(k, n_subspaces, n_codes, dims, id_col, vec_col, table, query_id)})
),
hit AS (SELECT count(*) AS n_overlap FROM exact JOIN approx ON id_exact = id_approx)
SELECT CAST({k} AS BIGINT) AS k, CAST(n_overlap AS BIGINT) AS n_overlap,
       n_overlap / {float(k)!r} AS recall_at_k
FROM hit
""".strip()
