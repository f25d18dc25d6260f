"""Similarity-search operators: brute-force cosine top-k join (baseline) and
the IVF-partitioned scale path (plans/ivf.py). Generalizes the reference's
single-query KNN (Q2, PgVectorStore.cs:186-285) to table-vs-table retrieval.

Scale design: the query side is broadcast (queries ≪ corpus); the corpus is
scanned once; per-query top-k via window rank. At 100 TB the brute-force
pairs stream through the shuffle at |Q|·k rows after per-partition pre-rank —
for large |Q| switch to the IVF probe which prunes the corpus scan to the
nprobe nearest centroid partitions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark.sql.window import Window

from connapse_spark.functions.vector import (
    bind_once,
    cosine_expr,
    l2norm_expr,
    paired_cosine_expr,
    to_double_array,
)


# knn_join's driver-side collect bound: 100k queries × (id + 64-dim double
# vector) ≈ 52 MB — comfortably driver-resident; larger query tables belong
# on the distributed IVF probe (plans/ivf.ivf_knn_join).
MAX_DRIVER_QUERIES = 100_000


# promoted to functions/vector.py (r11) so the MMR pair step can share it;
# aliased here to keep the pair kernels' call sites unchanged
_paired_cosine = paired_cosine_expr


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """For every query vector, the top-k most-cosine-similar corpus rows.
    Output: (query_id, neighbor_id, rank, score).

    Scale shape: the query table is collected and closed over (queries ≪
    corpus — the reference's Q2 regime; for large |Q| use the IVF probe,
    plans/ivf.py), the corpus is scanned ONCE by an Arrow mapInPandas stage
    that emits only the LOCAL top-k pairs per query per partition, and a
    window merges the ≤ |Q|·k·n_partitions survivors globally. Nothing ever
    shuffles at |Q|·|C| volume — the round-1 plan pushed every scored pair
    through the row_number exchange, which dies at corpus scale.

    Bit-parity: the kernel accumulates dot/norm dimension-at-a-time
    (``acc += q_d·c_d`` over d), the exact FP order of the sequential fold
    in functions/vector.py — so scores are bit-identical to the previous
    Catalyst expression and to the DuckDB oracle.

    Guard: the driver collect is bounded at ``MAX_DRIVER_QUERIES`` rows
    (the collect itself is limit-bounded, so an oversized query table
    never OOMs the driver before the check fires); beyond it, raises and
    points at the distributed ``plans.ivf.ivf_knn_join`` path.
    """
    q_rows = (
        queries.select(F.col(q_id), to_double_array(F.col(q_vec)))
        .limit(MAX_DRIVER_QUERIES + 1)
        .collect()
    )
    if len(q_rows) > MAX_DRIVER_QUERIES:
        raise ValueError(
            f"knn_join collects the query table to the driver and is capped at "
            f"{MAX_DRIVER_QUERIES} query rows (queries ≪ corpus regime); for "
            f"larger query tables use the distributed IVF path: "
            f"connapse_spark.plans.ivf.ivf_knn_join"
        )
    if not q_rows:
        empty = corpus.sparkSession.createDataFrame(
            [], _knn_schema(queries.schema[q_id].dataType, corpus.schema[c_id].dataType)
        )
        return empty.withColumn("rank", F.lit(0)).limit(0)
    q_ids = [r[0] for r in q_rows]
    q_mat = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    dims = q_mat.shape[1]
    q_norm = np.sqrt(_seq_sq_sum(q_mat))

    out_schema = _knn_schema(queries.schema[q_id].dataType, corpus.schema[c_id].dataType)
    kk = k
    excl = exclude_self

    def _local_topk(batches):
        q_arr = np.asarray(q_ids)
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf.iloc[:, 0].to_numpy()
            c_mat = np.asarray(list(pdf.iloc[:, 1]), dtype=np.float64)
            c_norm = np.sqrt(_seq_sq_sum(c_mat))
            # dim-sequential accumulation == the Catalyst left fold, per pair
            dots = np.zeros((len(q_arr), len(c_ids)))
            for d in range(dims):
                dots += np.outer(q_mat[:, d], c_mat[:, d])
            denom = np.outer(q_norm, c_norm)
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = np.where(denom > 0.0, dots / denom, 0.0)
            rows = []
            for qi in range(len(q_arr)):
                s = scores[qi]
                mask = c_ids != q_arr[qi] if excl else np.ones(len(c_ids), bool)
                idx = np.flatnonzero(mask)
                if idx.size == 0:
                    continue
                take = idx[np.lexsort((c_ids[idx], -s[idx]))][:kk]
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(q_arr[qi], take.size),
                            "neighbor_id": c_ids[take],
                            "score": s[take],
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    c = corpus.select(F.col(c_id), to_double_array(F.col(c_vec)))
    local = c.mapInPandas(_local_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _knn_schema(q_type, c_type) -> StructType:
    return StructType(
        [
            StructField("query_id", q_type),
            StructField("neighbor_id", c_type),
            StructField("score", DoubleType()),
        ]
    )


def _seq_sq_sum(mat: np.ndarray) -> np.ndarray:
    """Row-wise sum of squares accumulated dimension-at-a-time (the
    sequential-fold FP order of l2norm_expr)."""
    acc = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return acc


def sql_knn_join(k: int = 5, n_queries: int = 10, exclude_self: bool = True) -> str:
    from connapse_spark.functions.vector import sql_cosine

    self_filter = "AND q.vec_id != c.vec_id" if exclude_self else ""
    return f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < {n_queries}),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_cosine("qv", "cv")} AS score
  FROM q JOIN c ON TRUE {self_filter}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
""".strip()


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 4,
    exact: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PUBLIC embedding near-duplicate surface. Defaults to the LSH-bucketed
    plan (pairs generated only within sign-LSH buckets — the shape that
    survives 100 TB). The exact all-pairs kernel is an O(n²) cartesian and
    must be explicitly requested with ``exact=True``; it exists as the
    verification kernel for candidate buckets and for small corpora, never
    as the default dedup path."""
    if exact:
        return neardup_cosine_pairs(vectors, threshold, id_col=id_col, vec_col=vec_col)
    return neardup_cosine_pairs_lsh(
        vectors, threshold, n_planes=n_planes, id_col=id_col, vec_col=vec_col
    )


def neardup_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT ALL-PAIRS KERNEL,
    O(n²): only for within-bucket verification or small corpora. Reach it
    through ``embedding_neardup_pairs(..., exact=True)``; the default public
    path is the LSH-bucketed variant."""
    a = vectors.select(
        F.col(id_col).alias("id_a"), to_double_array(F.col(vec_col)).alias("_va")
    ).withColumn("_na", l2norm_expr(F.col("_va")))
    b = vectors.select(
        F.col(id_col).alias("id_b"), to_double_array(F.col(vec_col)).alias("_vb")
    ).withColumn("_nb", l2norm_expr(F.col("_vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _paired_cosine(F.col("_na"), F.col("_nb"), F.col("_va"), F.col("_vb")).alias("score"),
        )
        .filter(F.col("score") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def sql_neardup_cosine_pairs(threshold: float = 0.9) -> str:
    from connapse_spark.functions.vector import sql_cosine

    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {sql_cosine("a.e", "b.e")} AS score
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {sql_cosine("a.e", "b.e")} >= {threshold!r}
ORDER BY id_a, id_b
""".strip()


def neardup_cosine_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed near-dup pairs — the 100 TB path: bucket by
    deterministic sign-LSH (plans/ivf.py), generate pairs only WITHIN a
    bucket (shuffle on bucket, never an all-pairs join), verify with exact
    cosine. Approximate by construction (pairs split across buckets are
    missed — the recall/cost dial is n_planes); deterministic, so still
    oracle-checkable."""
    from connapse_spark.plans.ivf import lsh_bucket_expr

    v = vectors.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("vec")
    ).select(
        "id", "vec",
        lsh_bucket_expr(F.col("vec"), n_planes).alias("bucket"),
        l2norm_expr(F.col("vec")).alias("norm"),
    )
    # r12 (guide §5, same mechanism as the ngram prefix fix): both sides
    # of the bucket self-join read `v`, and Spark does not share the
    # subtree — the n_planes sign-projection dots plus the l2 norm (all
    # interpreted HOF folds) ran TWICE over every vector. Persisting the
    # slim (id, vec, bucket, norm) projection computes them once. The
    # CacheManager holds the entry until unpersist() or clearCache(); it
    # is not released when the plan is garbage-collected.
    v = v.persist()
    a = v.select(
        F.col("id").alias("id_a"), F.col("bucket"),
        F.col("vec").alias("_va"), F.col("norm").alias("_na"),
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("bucket"),
        F.col("vec").alias("_vb"), F.col("norm").alias("_nb"),
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "bucket",
            _paired_cosine(F.col("_na"), F.col("_nb"), F.col("_va"), F.col("_vb")).alias("score"),
        )
        .filter(F.col("score") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def sql_neardup_cosine_pairs_lsh(threshold: float = 0.9, n_planes: int = 4) -> str:
    from connapse_spark.functions.vector import sql_cosine
    from connapse_spark.plans.ivf import sql_lsh_bucket

    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         {sql_lsh_bucket('CAST(embedding AS DOUBLE[])', n_planes)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket AS bucket,
       {sql_cosine("a.e", "b.e")} AS score
FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {sql_cosine("a.e", "b.e")} >= {threshold!r}
ORDER BY id_a, id_b
""".strip()


def sql_neardup_components_lsh(threshold: float = 0.9, n_planes: int = 4) -> str:
    """Mirror of dedup.neardup_components over the LSH pair list: recursive
    reachability + min reachable id per vertex — a different algorithm than
    the Spark side's label propagation, converging to the same (id,
    component) integers."""
    from connapse_spark.functions.vector import sql_cosine
    from connapse_spark.plans.ivf import sql_lsh_bucket

    return f"""
WITH RECURSIVE v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         {sql_lsh_bucket('CAST(embedding AS DOUBLE[])', n_planes)} AS bucket
  FROM embeddings
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {sql_cosine("a.e", "b.e")} >= {threshold!r}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS x, src AS lbl FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.x
)
SELECT x AS id, min(lbl) AS component FROM reach GROUP BY x ORDER BY id
""".strip()


def mean_pool_by(
    vectors: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """E3 mean-pool (SemanticChunker.cs:290-307) per group, computed as a
    sorted sequential fold over collected vectors for bit-determinism
    (groups are bounded; the sort key fixes FP addition order)."""
    gathered = (
        vectors.select(
            F.col(group_col),
            F.struct(F.col(id_col).alias("i"), to_double_array(F.col(vec_col)).alias("v")).alias(
                "sv"
            ),
        )
        .groupBy(group_col)
        .agg(F.sort_array(F.collect_list("sv")).alias("svs"))
    )
    zeros = F.array_repeat(F.lit(0.0), dims)
    pooled = F.transform(
        F.aggregate(
            F.col("svs"), zeros, lambda acc, sv: F.zip_with(acc, sv["v"], lambda x, y: x + y)
        ),
        lambda x: x / F.size("svs"),
    )
    return gathered.select(
        F.col(group_col), F.size("svs").alias("n_vectors"), pooled.alias("centroid")
    ).orderBy(group_col)


def sql_mean_pool_by(group_col: str = "label", dims: int = 64) -> str:
    return f"""
SELECT {group_col}, len(svs) AS n_vectors,
       list_transform(
         list_reduce(
           list_prepend(list_transform(range(0, {dims}), x -> 0.0),
                        list_transform(svs, sv -> sv.v)),
           (acc, v) -> list_transform(range(1, {dims} + 1), i -> acc[i] + v[i])),
         x -> x / len(svs)) AS centroid
FROM (
  SELECT {group_col},
         list({{'i': vec_id, 'v': CAST(embedding AS DOUBLE[])}} ORDER BY vec_id) AS svs
  FROM embeddings GROUP BY {group_col}
)
ORDER BY {group_col}
""".strip()


# ---------------------------------------------------------------------------
# KMeans assignment step (deterministic seeds) — the oracle-checkable kernel
# of the IVF build's Lloyd iteration (plans/ivf.py)
# ---------------------------------------------------------------------------


def cluster_assign(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign every vector to its most-cosine-similar of k deterministic
    seed centroids (the k lowest-id vectors). This is exactly one Lloyd
    assignment step — the kernel plans/ivf.py iterates with sampled KMeans —
    exposed standalone so the driver can hash-verify the math that the
    (rows-only) ann_ivf path rests on.

    Returns (id, cluster, score); ties go to the lowest cluster id.

    Scale (100 TB): the k seeds collapse to ONE row (collect_list of k
    structs) broadcast to every partition; assignment is a map-side fold
    over that array — no shuffle at all, output partitioning inherits the
    scan. The explode+groupBy alternative would shuffle N·k scored rows.
    """
    seeds = (
        # the k LOWEST ids (TakeOrdered, k rows) — NOT `id < k`, which
        # silently yields fewer/zero seeds on sparse or offset id spaces
        embeddings.orderBy(F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col).cast("bigint").alias("cid"),
            to_double_array(F.col(vec_col)).alias("cvec"),
        )
        .agg(F.sort_array(F.collect_list(F.struct("cid", "cvec"))).alias("_seeds"))
    )
    v = to_double_array(F.col(vec_col))
    acc0 = F.struct(
        F.lit(-1).cast("bigint").alias("cid"), F.lit(-2.0).alias("score")
    )

    # bind the cast vector and each seed's cosine once (r11): the step
    # referenced sc in both the comparison and the kept struct, and the
    # to_double_array cast re-ran inside every step — k+1 redundant O(d)
    # interpreted passes per row. The fold itself then goes through a
    # projection boundary because BOTH output columns (cluster, score)
    # read it — unboundaried, the whole k-seed fold ran twice per row.
    def _best_of(vv):
        def _step(acc, s):
            return bind_once(
                cosine_expr(s["cvec"], vv),
                lambda sc: F.when(
                    sc > acc["score"],
                    F.struct(s["cid"].alias("cid"), sc.alias("score")),
                ).otherwise(acc),
            )

        return F.aggregate("_seeds", acc0, _step)

    scored_cols = [F.col(id_col), bind_once(v, _best_of).alias("_best")]
    if keep_vec:
        scored_cols.append(v.alias("_v"))
    scored = embeddings.crossJoin(F.broadcast(seeds)).select(*scored_cols)
    # the coalesce never fires (the fold always yields a struct — acc0 seeds
    # it) but makes `cluster` NON-NULLABLE, so a downstream equi-join on
    # cluster (semdedup's pair join) cannot infer an isnotnull(cluster)
    # filter — that inferred filter pushes through both projections and
    # re-evaluates the ENTIRE k-seed argmax fold a second time per row on
    # each join side (r11; seen as "Join condition: isnotnull(aggregate(
    # _seeds...).cid)" in plans/r11/semdedup_before_s12.txt).
    cols = [
        F.col(id_col),
        F.coalesce(F.col("_best")["cid"], F.lit(-1).cast("bigint")).alias("cluster"),
        F.col("_best")["score"].alias("score"),
    ]
    if keep_vec:
        cols.append(F.col("_v"))
    return scored.select(*cols)


def sql_cluster_assign(
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """Mirror: score every (vector, seed) pair, keep the best by
    (score DESC, cid ASC) — the fold's strict-> keeps the lowest cid on
    bit-equal ties, and both sides compute cosine in the same FP order."""
    from connapse_spark.functions.vector import sql_cosine

    return f"""
WITH seeds AS (
  SELECT CAST({id_col} AS BIGINT) AS cid, CAST({vec_col} AS DOUBLE[]) AS cvec
  FROM {table} ORDER BY {id_col} LIMIT {k}
),
scored AS (
  SELECT e.{id_col}, s.cid,
         {sql_cosine(f"CAST(e.{vec_col} AS DOUBLE[])", "s.cvec")} AS score
  FROM {table} e CROSS JOIN seeds s
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY {id_col} ORDER BY score DESC, cid) AS rk
  FROM scored
)
SELECT {id_col}, cid AS cluster, score FROM ranked WHERE rk = 1
""".strip()


def cluster_sizes(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster population + mean assignment score for the deterministic
    seed clustering — the list-size histogram an IVF lists policy reads.
    One extra map-side-partial aggregate on top of the shuffle-free
    cluster_assign plan. Score spread is reported as min/max (order-
    insensitive over bit-identical per-row doubles, so exactly mirrorable),
    NOT an FP sum (partition-order-dependent)."""
    a = cluster_assign(embeddings, k=k, id_col=id_col, vec_col=vec_col)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


def sql_cluster_sizes(
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """Mirror of cluster_sizes; min/max are the only order-insensitive
    exact FP aggregates, so the comparison stays bit-strict."""
    return f"""
WITH assigned AS ({sql_cluster_assign(k, id_col, vec_col, table)})
SELECT cluster, count(*) AS n_vectors, min(score) AS min_score, max(score) AS max_score
FROM assigned GROUP BY cluster
""".strip()


def semdedup_n_clusters(n_rows: int, target_cluster_size: int = 1024) -> int:
    """Cluster-count policy for semdedup/cluster_assign: k ≈ N/target so
    per-cluster populations stay bounded as the corpus grows — the paper's
    own scaling rule (Abbas et al. 2023 §3 use k=11,000 for 5B docs; the
    within-cluster pair join is O(|cluster|²), so a FIXED k at 100× data
    explodes quadratically while k∝N keeps per-cluster work constant).
    Mirrors the shape of ivf_n_lists (plans/ivf.py:180); the 65,536 cap
    only bounds the broadcast seed table (≈32 MB at 64 dims)."""
    return max(1, min(65_536, n_rows // target_cluster_size))


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then removing all but one
    member of every near-duplicate neighborhood WITHIN a cluster.

    Rule (deterministic): a vector is removed iff some LOWER-id vector in
    the same cluster has cosine >= threshold with it — the lowest-id member
    of each duplicate neighborhood always survives (the paper keeps one
    arbitrary representative; id order makes that reproducible).

    Returns (id, cluster, keep).

    Scale (100 TB): this is the cluster-bucketed analogue of
    ``embedding_neardup_pairs`` — assignment is the shuffle-free broadcast
    fold of cluster_assign, and the pair join is keyed on ``cluster``, so
    all-pairs work happens only within a cluster. The paper's design point
    is exactly that k grows with the corpus so cluster populations stay
    bounded (they use k=11k for 5B docs); pick k so |cluster| stays in the
    thousands and the per-cluster quadratic term stays trivial.
    """
    # per-row norm materialized BEFORE the pair join (r11): the pair filter
    # previously ran the full 3-fold cosine_expr per PAIR, recomputing each
    # side's O(d) norm for every pair the row participates in — within a
    # cluster of size c that is O(c²·d) norm work where O(c·d) suffices.
    # _paired_cosine keeps the identical FP operation order (dot/(na·nb)),
    # so scores stay bit-identical; the join boundary keeps CollapseProject
    # from inlining the norm back into the pair stage.
    assigned = cluster_assign(
        embeddings, k=k, id_col=id_col, vec_col=vec_col, keep_vec=True
    ).select(
        F.col(id_col).alias("id"),
        "cluster",
        "_v",
        l2norm_expr(F.col("_v")).alias("_n"),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    removed = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(
            _paired_cosine(
                F.col("a._n"), F.col("b._n"), F.col("a._v"), F.col("b._v")
            )
            >= F.lit(threshold)
        )
        .select(F.col("b.id").alias("id"))
        .distinct()
        .withColumn("_removed", F.lit(True))
    )
    return (
        assigned.join(removed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster"),
            F.coalesce(~F.col("_removed"), F.lit(True)).alias("keep"),
        )
    )


def sql_semdedup(
    k: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """Mirror of semdedup: same assignment CTE, within-cluster lower-id
    pairs, cosine in the identical FP order, >= against the same literal."""
    from connapse_spark.functions.vector import sql_cosine

    return f"""
WITH assigned AS ({sql_cluster_assign(k, id_col, vec_col, table)}),
vecs AS (SELECT {id_col} AS id, cluster, CAST(e.{vec_col} AS DOUBLE[]) AS v
         FROM assigned JOIN {table} e USING ({id_col})),
removed AS (
  SELECT DISTINCT b.id AS id
  FROM vecs a JOIN vecs b ON a.cluster = b.cluster AND a.id < b.id
  WHERE {sql_cosine("a.v", "b.v")} >= {threshold!r}
)
SELECT v.id AS {id_col}, v.cluster, (r.id IS NULL) AS keep
FROM vecs v LEFT JOIN removed r ON v.id = r.id
""".strip()


def _jl_matrix(in_dims: int, out_dims: int) -> list[list[float]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003 sign variant of
    Johnson–Lindenstrauss): entry sign = parity of sha256(f"{j}_{d}") —
    reproducible everywhere, no RNG state. Both engines receive the SAME
    literals, so determinism needs no SQL mirror of the generation."""
    import hashlib

    rows = []
    for j in range(out_dims):
        row = [
            1.0 if hashlib.sha256(f"{j}_{d}".encode()).digest()[-1] & 1 else -1.0
            for d in range(in_dims)
        ]
        rows.append(row)
    return rows


def random_projection(
    embeddings: DataFrame,
    out_dims: int = 16,
    in_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL random projection: sketch each embedding down to ``out_dims``
    components, value_j = (Σ_d v_d·r_{j,d}) / sqrt(out_dims) — the
    distance-preserving cheap-projection step before ANN indexing or
    clustering when the native dimensionality is wasteful.

    Output is LONG format (id, component, value): one scalar row per
    component, so the driver canonicalizer and the DuckDB mirror handle it
    without array columns.

    Scale: the projection matrix collapses to out_dims broadcast rows; the
    join is map-side (broadcast hash), the fold is one codegen'd zip_with +
    sequential aggregate per component — FP order pinned, bit-identical to
    the SQL mirror. Output volume is out_dims × N rows; for a pure-compute
    variant keep it wide with transform() instead.
    """
    import math

    spark = embeddings.sparkSession
    mat = _jl_matrix(in_dims, out_dims)
    proj = spark.createDataFrame(
        [(j, row) for j, row in enumerate(mat)], "component int, r array<double>"
    )
    v = to_double_array(F.col(vec_col))
    scale = F.lit(math.sqrt(float(out_dims)))
    value = (
        F.aggregate(
            F.zip_with(v, F.col("r"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / scale
    )
    return embeddings.crossJoin(F.broadcast(proj)).select(
        F.col(id_col), F.col("component"), value.alias("value")
    )


def sql_random_projection(
    out_dims: int = 16,
    in_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """Mirror of random_projection: the same literal matrix as a VALUES
    table, elementwise multiply then the same sequential left-fold sum."""
    import math

    mat = _jl_matrix(in_dims, out_dims)
    values = ", ".join(
        f"({j}, [{', '.join(repr(x) for x in row)}])" for j, row in enumerate(mat)
    )
    scale = repr(math.sqrt(float(out_dims)))
    return f"""
WITH proj(component, r) AS (VALUES {values}),
e AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table})
SELECT {id_col}, component,
       list_reduce(list_prepend(0.0,
         list_transform(range(1, {in_dims} + 1), i -> v[i] * r[i])),
         (a, x) -> a + x) / {scale} AS value
FROM e CROSS JOIN proj
""".strip()


# ---------------------------------------------------------------------------
# Embedding hygiene (norm stats + outlier screen)
# ---------------------------------------------------------------------------


def embedding_hygiene(
    embeddings: DataFrame,
    z_threshold: float = 3.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vector-table QA before anything expensive touches it: per-vector L2
    norm in exact milli-units, zero-vector flag, and a z-score outlier
    flag against the corpus norm distribution — the screen that catches
    provider bugs (all-zero responses, double-normalized batches, wrong
    dims mixed in) before they poison an index build.

    Determinism: norms quantize to integer milli-units; the corpus mean
    and variance come from INTEGER sums (order-free across partitions),
    and the final mean/std doubles are exactly-rounded functions of those
    integers — identical in the mirror. Milli-scale keeps the
    sum-of-squares under 2^63 to ~10^12 rows.

    Output: (id, dims, norm_mu, is_zero, is_outlier).

    Plan: one map-side projection + ONE one-row aggregate broadcast back —
    no shuffle of the vector table itself."""
    v = to_double_array(F.col(vec_col))
    per = embeddings.select(
        F.col(id_col).alias("id"),
        F.size(v).cast("long").alias("dims"),
        F.round(l2norm_expr(v) * 1000).cast("long").alias("norm_mu"),
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("norm_mu").alias("_s"),
        F.sum(F.col("norm_mu") * F.col("norm_mu")).alias("_ss"),
    )
    mean = F.col("_s").cast("double") / F.col("_n")
    var = F.col("_ss").cast("double") / F.col("_n") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        per.crossJoin(F.broadcast(stats))
        .select(
            "id",
            "dims",
            "norm_mu",
            (F.col("norm_mu") == 0).alias("is_zero"),
            (
                F.abs(F.col("norm_mu").cast("double") - mean)
                > F.lit(z_threshold) * std
            ).alias("is_outlier"),
        )
        .orderBy("id")
    )


def sql_embedding_hygiene(
    z_threshold: float = 3.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    from connapse_spark.functions.vector import sql_norm

    nm = f"CAST(round({sql_norm(f'CAST({vec_col} AS DOUBLE[])')} * 1000) AS BIGINT)"
    return f"""
WITH per AS (
  SELECT {id_col} AS id, CAST(len({vec_col}) AS BIGINT) AS dims, {nm} AS norm_mu
  FROM {table}
),
st AS (
  SELECT count(*) AS n, CAST(sum(norm_mu) AS BIGINT) AS s,
         CAST(sum(norm_mu * norm_mu) AS BIGINT) AS ss
  FROM per
),
m AS (
  SELECT n, CAST(s AS DOUBLE) / n AS mean,
         sqrt(greatest(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS std
  FROM st
)
SELECT id, dims, norm_mu,
       norm_mu = 0 AS is_zero,
       abs(CAST(norm_mu AS DOUBLE) - mean) > {z_threshold!r} * std AS is_outlier
FROM per, m ORDER BY id
""".strip()
