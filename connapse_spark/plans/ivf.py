"""ANN index structures — the batch re-expression of the reference's
IVFFlat partial-index manager (M6, VectorColumnManager.cs:14-194: one
partial index per model_id, ``lists = clamp(rows/1000, 1, 100)``, built once
≥10 vectors; probed with nearest-list pruning).

Two index families, same two-job shape (build once, probe many):

1. **Sign-LSH buckets** (``lsh_bucket_expr`` / ``ann_lsh_topk``) — random
   hyperplane signatures from the deterministic hash family (no RNG, no
   fitted state), so build is a pure projection: bucket = bit-pack of
   sign(dot(v, h_j)). Probe scans only the query's bucket (optionally
   Hamming-adjacent buckets). Fully oracle-checkable in DuckDB.

2. **KMeans IVF** (``build_ivf_index`` / ``ann_ivf_topk``) — MLlib KMeans
   centroids → ``list_id`` assignment; the index table is written
   partitioned by ``list_id`` so a probe's ``list_id IN (...)`` filter is
   partition pruning, exactly like pgvector scanning ``nprobe`` inverted
   lists. Centroids are a small broadcast table. Not SQL-mirrorable
   (iterative fit) — covered by the rows-only check and invariants tests.

Scale notes (100 TB): both builds are one pass over the corpus with
map-side-only work plus (for KMeans) a sampled fit; probes touch
|corpus| / n_buckets (LSH) or nprobe/lists (IVF) of the data. The bucket
column is the partition/sort key of the written index so scans prune at the
parquet row-group level.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connapse_spark.functions.embed import sql_vector_literal
from connapse_spark.functions.vector import (
    bind_once,
    cosine_expr,
    dot_expr,
    l2norm_expr,
    sql_dot,
    to_double_array,
)

# ---------------------------------------------------------------------------
# 1. Sign-LSH (deterministic hyperplanes, oracle-checkable)
# ---------------------------------------------------------------------------


def _plane_component(j: int, i: Column | int) -> Column:
    """Deterministic pseudo-random hyperplane h_j[i] in [-1, 1): the same
    sha-derived family as the hash embedder, keyed 'plane:j:i'."""
    i_str = i.cast("string") if isinstance(i, Column) else F.lit(str(i))
    return (
        F.conv(
            F.substring(F.sha2(F.concat(F.lit(f"plane:{j}:"), i_str), 256), 1, 8), 16, 10
        ).cast("bigint")
        % 2000
        - 1000
    ) / 1000.0


def _sql_plane_component(j: int, i: str) -> str:
    return (
        f"(('0x' || substr(sha256('plane:{j}:' || {i}), 1, 8))::BIGINT % 2000 - 1000) / 1000.0"
    )


def lsh_bucket_expr(vec: Column, n_planes: int = 8) -> Column:
    """Bit-packed sign signature: Σ_j 2^j·[dot(v, h_j) > 0]. 2^n_planes
    buckets; one pass, no state. dot(v, h_j) expands the plane component
    inline per element — constant-folded per j because the plane literal
    depends only on the element index."""
    acc = F.lit(0).cast("bigint")
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x * _plane_component(j, i),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        acc = acc + F.when(proj > 0.0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return acc


def sql_lsh_bucket(vec: str, n_planes: int = 8) -> str:
    terms = []
    for j in range(n_planes):
        proj = (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, len({vec}) + 1), "
            f"i -> {vec}[i] * {_sql_plane_component(j, '(i - 1)')})), (a, v) -> a + v)"
        )
        terms.append(f"CASE WHEN {proj} > 0.0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END")
    return "(" + " + ".join(terms) + ")"


def build_lsh_index(
    vectors: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index table: (id, bucket, vec, norm). Write partitioned/sorted by
    bucket so probe filters prune row groups."""
    v = to_double_array(F.col(vec_col))
    return vectors.select(
        F.col(id_col).alias("id"),
        v.alias("vec"),
    ).select(
        "id",
        "vec",
        lsh_bucket_expr(F.col("vec"), n_planes).alias("bucket"),
        l2norm_expr(F.col("vec")).alias("norm"),
    )


def ann_lsh_topk(
    index: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Probe: compute the query's bucket driver-side (tiny pure-Python
    mirror of the plane family), scan only that bucket, exact cosine
    re-rank inside it. Returns (id, bucket, score)."""
    import hashlib

    def plane(j: int, i: int) -> float:
        h = hashlib.sha256(f"plane:{j}:{i}".encode()).hexdigest()[:8]
        return (int(h, 16) % 2000 - 1000) / 1000.0

    bucket = 0
    for j in range(n_planes):
        proj = sum(x * plane(j, i) for i, x in enumerate(query_vec))
        if proj > 0.0:
            bucket += 1 << j

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = sum(x * x for x in query_vec) ** 0.5
    score = F.when(
        (F.col("norm") > 0.0) & (F.lit(qn) > 0.0),
        dot_expr(F.col("vec"), q) / (F.col("norm") * F.lit(qn)),
    ).otherwise(F.lit(0.0))
    return (
        index.filter(F.col("bucket") == F.lit(bucket))
        .select("id", "bucket", score.alias("score"))
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
    )


def sql_ann_lsh_topk(query_vec: list[float], k: int = 10, n_planes: int = 8) -> str:
    """Oracle mirror: same bucket math in SQL end-to-end (the bucket of the
    query literal is computed by the same SQL expression, not precomputed,
    so the whole path is checked)."""
    qv = sql_vector_literal(query_vec)
    return f"""
WITH idx AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec,
         {sql_lsh_bucket('CAST(embedding AS DOUBLE[])', n_planes)} AS bucket,
         sqrt({sql_dot('CAST(embedding AS DOUBLE[])', 'CAST(embedding AS DOUBLE[])')}) AS norm
  FROM embeddings
),
q AS (SELECT {qv} AS qv, {sql_lsh_bucket(qv, n_planes)} AS qbucket,
             sqrt({sql_dot(qv, qv)}) AS qn)
SELECT id, bucket,
       CASE WHEN norm > 0.0 AND qn > 0.0
            THEN {sql_dot('vec', 'qv')} / (norm * qn) ELSE 0.0 END AS score
FROM idx, q WHERE bucket = qbucket
ORDER BY score DESC, id LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# 2. KMeans IVF (MLlib fit; the true 100 TB structure)
# ---------------------------------------------------------------------------


def ivf_n_lists(n_rows: int, policy: str = "reference", max_lists: int = 65536) -> int:
    """List-count sizing.

    ``policy="reference"``: lists = clamp(rows/1000, 1, 100)
    (VectorColumnManager.cs:98,22) — the default for parity. Its 100-list
    cap is fine at pgvector's single-node scale but collapses at corpus
    scale: 10¹¹ rows → 10⁹-row lists, so a probe scans nprobe×10⁹ vectors
    and the index prunes nothing.

    ``policy="sqrt"``: lists ≈ √n (the classic IVF sizing — per-list size
    and list count balance at √n, so probe cost ~ nprobe·√n), capped by
    ``max_lists`` as the centroid-table memory bound: 65536 × 1024-dim
    float8 centroids ≈ 512 MB, the broadcast ceiling. Crossover: the two
    policies agree at n = 10⁴ (both 100); past 10⁷ rows sqrt gives
    3162+ lists vs the reference's 100 — a 30×+ smaller probe set.
    Opt-in, keyed per index at build time."""
    if policy == "sqrt":
        return max(1, min(max_lists, int(n_rows**0.5)))
    if policy != "reference":
        raise ValueError(f"unknown lists policy {policy!r}")
    return max(1, min(100, n_rows // 1000))


def build_ivf_index(
    vectors: DataFrame,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    n_rows: int | None = None,
    lists_policy: str = "reference",
) -> tuple[DataFrame, DataFrame]:
    """Fit KMeans centroids (optionally on a sample — at 100 TB you fit on
    ~1M sampled rows, never the full corpus) and assign every vector its
    nearest list. Returns (index_df, centroids_df).

    index_df: (id, list_id, vec, norm) — write partitioned by list_id.
    centroids_df: (list_id, centroid) — tiny, broadcast at probe time.

    Sizing: pass ``n_lists`` directly, or ``n_rows`` (a catalog/metastore
    row-count estimate) to derive it via ``lists_policy`` — "reference"
    (the clamp, default for parity) or "sqrt" (≈√n, the corpus-scale
    sizing; see :func:`ivf_n_lists` for the crossover). Only when neither
    is given does the build run a count job first — at corpus scale the
    caller always knows the approximate row count for free, so the extra
    scan is an opt-in convenience, not the default plan shape.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    base = vectors.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("vec")
    )
    fit_input = base if sample_fraction is None else base.sample(sample_fraction, seed=seed)
    if n_lists is None:
        if n_rows is None:
            n_rows = base.count()  # opt-in convenience path only
        n_lists = ivf_n_lists(n_rows, policy=lists_policy)
    if n_lists < 2:
        # the lists policy yields 1 below ~2k rows (pgvector allows
        # lists=1); MLlib KMeans requires k >= 2, and a single list needs
        # no fit at all — every probe scans everything, trivially exact
        index = base.select(
            "id",
            F.lit(0).alias("list_id"),
            "vec",
            l2norm_expr(F.col("vec")).alias("norm"),
        )
        dims_row = base.select(F.size("vec").alias("d")).first()
        d = int(dims_row["d"]) if dims_row else 0
        centroids = base.sparkSession.createDataFrame(
            [(0, [0.0] * d)], "list_id int, centroid array<double>"
        )
        return index, centroids
    km = KMeans(k=n_lists, seed=seed, featuresCol="features", predictionCol="list_id")
    model = km.fit(fit_input.select(array_to_vector(F.col("vec")).alias("features")))
    assigned = model.transform(base.select("id", "vec", array_to_vector(F.col("vec")).alias("features")))
    index = assigned.select(
        "id", F.col("list_id"), "vec", l2norm_expr(F.col("vec")).alias("norm")
    )
    centroids = assigned.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "list_id int, centroid array<double>",
    )
    return index, centroids


def probe_list_ids(
    centroids: DataFrame, query_vec: list[float], nprobe: int
) -> list[int]:
    """Rank centroids by cosine to the query ON THE DRIVER (the centroid
    table is ≤100 rows by the lists policy — exactly the coordinator-side
    decision pgvector's ivfflat.probes makes) and return the ``nprobe``
    nearest list_ids. See :func:`rank_lists` for the ranking contract."""
    return probe_list_ids_many(centroids, [query_vec], nprobe)[0]


def probe_list_ids_many(
    centroids: DataFrame, query_vecs: list[list[float]], nprobe: int
) -> list[list[int]]:
    """Batched probe selection: ONE collect of the centroid table, then
    :func:`rank_lists` per query — the driver-side cost of serving an
    N-query batch through the IVF index is one tiny collect, not N. A
    :class:`VectorIndex` bundle keeps the collected rows
    (:meth:`VectorIndex.probe_lists`), so its probes collect nothing."""
    return rank_lists(_collect_centroids(centroids), query_vecs, nprobe)


def _collect_centroids(centroids: DataFrame) -> list[tuple]:
    """The (list_id, centroid) rows of a centroid table, on the driver."""
    return [(r["list_id"], r["centroid"]) for r in centroids.collect()]


def rank_lists(
    rows: list[tuple], query_vecs: list[list[float]], nprobe: int
) -> list[list[int]]:
    """The ``nprobe`` nearest lists per query over collected (list_id,
    centroid) rows, in pure Python. The fold here is the same sequential
    FP ops as ``sql_cosine``'s left fold, so a DuckDB mirror ranks
    identically (pinned by the green ``ann_ivf_seeded`` oracle). Ties
    break on list_id ascending, mirroring ``ORDER BY s DESC, list_id``."""

    def _probe(qv: list[float]) -> list[int]:
        qn = sum(x * x for x in qv) ** 0.5

        def _cos(c: list[float]) -> float:
            cn = sum(x * x for x in c) ** 0.5
            if cn <= 0.0 or qn <= 0.0:
                return 0.0
            return sum(a * b for a, b in zip(c, qv)) / (cn * qn)

        ranked = sorted((-_cos(c), lid) for lid, c in rows)
        return [lid for _, lid in ranked[:nprobe]]

    return [_probe(qv) for qv in query_vecs]


def ann_ivf_topk(
    index: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe: pick lists driver-side (:func:`probe_list_ids`), then scan
    ONLY the chosen lists via a literal ``list_id IN (...)`` filter —
    partition pruning against a list_id-partitioned index, one Spark job,
    no centroid-ranking job and no broadcast-exchange job (the previous
    join-based probe paid ~3 scheduled jobs per query)."""
    qn = sum(x * x for x in query_vec) ** 0.5
    probe_ids = probe_list_ids(centroids, query_vec, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    score = F.when(
        (F.col("norm") > 0.0) & (F.lit(qn) > 0.0),
        dot_expr(F.col("vec"), q) / (F.col("norm") * F.lit(qn)),
    ).otherwise(F.lit(0.0))
    return (
        index.filter(F.col("list_id").isin(probe_ids))
        .select("id", "list_id", score.alias("score"))
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
    )


def ivf_recall_vs_exact(
    index: DataFrame,
    centroids: DataFrame,
    exact_topk: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> float:
    """Recall@k of the IVF probe against the exact scan — the index-quality
    gauge a production build job logs per model (cf. the reference's
    min-rows/lists policy deciding when the index is worth it)."""
    approx = {r["id"] for r in ann_ivf_topk(index, centroids, query_vec, k, nprobe).collect()}
    exact = {r[0] for r in exact_topk.limit(k).collect()}
    return len(approx & exact) / max(1, len(exact))


def ivf_knn_join(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Table-vs-table ANN join through the IVF index — the scale path for
    large |Q| where the exact knn_join's per-partition scoring is too much
    work: each query is routed to its ``nprobe`` nearest lists (cross join
    against the BROADCAST centroid table — ≤100 rows by the lists policy),
    then scored only against those lists' members.

    Plan: queries ×_broadcast centroids → per-query top-nprobe lists
    (window over ≤100 rows per query) → equi-join with the index ON
    list_id (the index is partitioned by list_id, so with a stored index
    this shuffles only the probe side) → exact cosine within the candidate
    lists → per-query top-k window over nprobe/lists of the corpus.

    Output: (query_id, id, score, rank) — approximate (recall dial =
    nprobe), deterministic given the fitted centroids.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(query_vec_col)).alias("qvec"),
    ).withColumn("qnorm", l2norm_expr(F.col("qvec")))
    cj = q.crossJoin(F.broadcast(centroids))
    cscore = F.when(
        (l2norm_expr(F.col("centroid")) > 0.0) & (F.col("qnorm") > 0.0),
        dot_expr(F.col("centroid"), F.col("qvec"))
        / (l2norm_expr(F.col("centroid")) * F.col("qnorm")),
    ).otherwise(F.lit(0.0))
    wq = Window.partitionBy("query_id").orderBy(F.desc("_cscore"), F.col("list_id"))
    routed = (
        cj.select("query_id", "qvec", "qnorm", "list_id", cscore.alias("_cscore"))
        .withColumn("_crk", F.row_number().over(wq))
        .filter(F.col("_crk") <= nprobe)
        .select("query_id", "qvec", "qnorm", "list_id")
    )
    score = F.when(
        (F.col("norm") > 0.0) & (F.col("qnorm") > 0.0),
        dot_expr(F.col("vec"), F.col("qvec")) / (F.col("norm") * F.col("qnorm")),
    ).otherwise(F.lit(0.0))
    scored = routed.join(index, "list_id").select(
        "query_id", "id", score.alias("score")
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def build_ivf_index_seeded(
    vectors: DataFrame,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF twin of build_ivf_index: centroids are the n_lists
    lowest-id vectors and assignment is the single broadcast-fold Lloyd
    step (similarity.cluster_assign) — no iterative fit, so the index AND
    the probe are SQL-expressible and the whole ANN path gets a full
    value-hash oracle (the sampled-KMeans build keeps its rows-only check;
    this twin pins the probe math end-to-end). Same (index, centroids)
    contract as build_ivf_index; list_id stays bigint. Requires a NUMERIC
    id column (list_id IS the seed's id cast to bigint — the property the
    SQL mirror leans on); string-keyed tables (e.g. chunk_ids) use the
    MLlib build, whose list_id is the fit's dense cluster index."""
    from connapse_spark.operators.similarity import cluster_assign

    assigned = cluster_assign(
        vectors, k=n_lists, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    index = assigned.select(
        F.col(id_col).alias("id"),
        F.col("cluster").alias("list_id"),
        F.col("_v").alias("vec"),
        l2norm_expr(F.col("_v")).alias("norm"),
    )
    centroids = (
        vectors.orderBy(F.col(id_col))  # k lowest ids, not `id < k` —
        .limit(n_lists)  # sparse/offset id spaces yield full seed sets
        .select(
            F.col(id_col).cast("bigint").alias("list_id"),
            to_double_array(F.col(vec_col)).alias("centroid"),
        )
    )
    return index, centroids


@dataclass
class VectorIndex:
    """The write-time ANN index bundle — the vector twin of
    ``keyword_index.KeywordIndex``: build once at ingest, pass to
    ``hybrid_search(vector_index=…)`` so the semantic branch scores ONLY the
    ``nprobe`` nearest inverted lists instead of scanning every stored
    vector, the way the reference serves KNN from pgvector's ivfflat index
    (VectorColumnManager.cs:14-194 builds it; PgVectorStore.cs:186-285
    queries through it). With ``nprobe >= n_lists`` the candidate set is the
    whole corpus and results are row-equal to the brute-force branch — the
    index is a physical structure, not a semantic change.

    index: (id, list_id, vec, norm) — write partitioned by list_id.
    centroids: (list_id, centroid) — ≤100 rows. A bundle stands for one
    pinned cut, so its first probe collects them and the rows stay on the
    driver for THIS instance (a new cut is a new bundle with its own
    rows): later probes rank lists in pure Python and launch no Spark job.
    Building a bundle collects nothing.
    """

    index: DataFrame
    centroids: DataFrame
    nprobe: int = 4
    _rows: list | None = field(default=None, init=False, repr=False, compare=False)

    def centroid_rows(self) -> list[tuple]:
        """(list_id, centroid) rows, collected once per bundle."""
        if self._rows is None:
            self._rows = _collect_centroids(self.centroids)
        return self._rows

    def probe_lists(self, query_vecs: list[list[float]]) -> list[list[int]]:
        """:func:`rank_lists` of each query over this bundle's centroids."""
        return rank_lists(self.centroid_rows(), query_vecs, self.nprobe)

    def persist(self) -> "VectorIndex":
        self.index.persist()
        self.centroids.persist()
        return self

    def unpersist(self) -> "VectorIndex":
        self.index.unpersist()
        self.centroids.unpersist()
        return self


def build_vector_index(
    vectors: DataFrame,
    n_lists: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeded: bool = False,
    n_rows: int | None = None,
    sample_fraction: float | None = None,
    lists_policy: str = "reference",
) -> VectorIndex:
    """One-stop ingest-time ANN build. ``seeded=True`` uses the
    deterministic single-Lloyd-step build (SQL-mirrorable, used by the
    oracle entries); the default is the sampled MLlib KMeans fit."""
    if seeded:
        idx, cents = build_ivf_index_seeded(
            vectors, n_lists or 8, id_col=id_col, vec_col=vec_col
        )
    else:
        idx, cents = build_ivf_index(
            vectors,
            n_lists,
            id_col=id_col,
            vec_col=vec_col,
            n_rows=n_rows,
            sample_fraction=sample_fraction,
            lists_policy=lists_policy,
        )
    return VectorIndex(index=idx, centroids=cents, nprobe=nprobe)


def write_vector_index(
    vidx: VectorIndex, path: str, model_id: str = "hash-64"
) -> None:
    """Persist the bundle for serving: the index table goes down
    partitioned by (model_id, list_id) — so a probe's ``list_id IN (...)``
    is PARTITION PRUNING on disk, the pgvector-ivfflat layout property —
    and the centroid table lands model-partitioned under ``_centroids/``
    (underscore-prefixed paths are invisible to Spark's file index, so
    readers of the index never see it). Both writes use DYNAMIC partition
    overwrite: re-writing model B replaces only B's partitions, never
    model A's — one path really does hold one bundle per model_id, the
    layout VectorIndexManager documents."""
    import os

    (
        vidx.index.withColumn("model_id", F.lit(model_id))
        .repartition("list_id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("model_id", "list_id")
        .parquet(path)
    )
    (
        vidx.centroids.withColumn("model_id", F.lit(model_id))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("model_id")
        .parquet(os.path.join(path, "_centroids"))
    )
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data: a list that emptied (delete wave) or disappeared (rebuild with
    # fewer lists) would keep serving its stale files forever. Prune this
    # model's list dirs that the new bundle no longer has (≤100 dirs by
    # the lists policy; Hadoop FS API, so the same code works on local
    # paths and object stores).
    keep = {
        str(r["list_id"]) for r in vidx.index.select("list_id").distinct().collect()
    }
    sc = vidx.index.sparkSession.sparkContext
    jvm_path = sc._jvm.org.apache.hadoop.fs.Path(
        os.path.join(path, f"model_id={model_id}")
    )
    fs = jvm_path.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        for st in fs.listStatus(jvm_path):
            name = st.getPath().getName()
            if name.startswith("list_id=") and name.split("=", 1)[1] not in keep:
                fs.delete(st.getPath(), True)


def load_vector_index(
    spark, path: str, model_id: str = "hash-64", nprobe: int = 4
) -> VectorIndex:
    """Reopen a written bundle for serving. The model_id filter prunes at
    the partition level; list_id comes back as a partition column, so the
    probe's IN-filter stays a PartitionFilter (pinned by
    tests/test_plans.py)."""
    import os

    index = (
        spark.read.parquet(path)
        .filter(F.col("model_id") == model_id)
        .select("id", F.col("list_id").cast("bigint").alias("list_id"), "vec", "norm")
    )
    centroids = (
        spark.read.parquet(os.path.join(path, "_centroids"))
        .filter(F.col("model_id") == model_id)
        .select("list_id", "centroid")
    )
    return VectorIndex(index=index, centroids=centroids, nprobe=nprobe)


class VectorIndexManager:
    """M6's per-model index registry — the repo analogue of the reference's
    VectorColumnManager (VectorColumnManager.cs:14-194): ONE partial IVF
    index per embedding model over the shared vectors table, built only
    once a model has ``min_rows`` vectors (the reference's ≥10 guard),
    sized by the lists policy (``ivf_n_lists`` = clamp(rows/1000, 1, 100)).
    Models below the threshold serve BRUTE-FORCE — exactly pgvector's
    behavior when no partial index matches: the planner falls back to the
    sequential scan, answers stay correct, only latency differs.

    ``ensure`` runs ONE count aggregation over the vectors table (grouped
    by model — bounded by model count, not rows) and builds the missing or
    stale indexes; ``knn`` routes a query to its model's index or the
    brute scan. State is driver-side {model: VectorIndex} — at deployment
    scale each bundle is persisted via :func:`write_vector_index` under
    its model_id partition and reopened with :func:`load_vector_index`.
    """

    def __init__(
        self,
        min_rows: int = 10,
        nprobe: int = 4,
        seeded: bool = False,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        model_col: str = "label",
        lists_policy: str = "reference",
    ) -> None:
        self.min_rows = min_rows
        self.nprobe = nprobe
        self.seeded = seeded
        self.lists_policy = lists_policy
        self.id_col, self.vec_col, self.model_col = id_col, vec_col, model_col
        self.indexes: dict = {}
        self.skipped: dict = {}  # model -> row count below threshold
        self._counts: dict = {}  # model -> row count at last build

    def ensure(self, vectors: DataFrame) -> "VectorIndexManager":
        counts = {
            r["m"]: r["n"]
            for r in vectors.groupBy(F.col(self.model_col).alias("m"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # evict state for models no longer present — a stale index would
        # otherwise keep serving vectors that left the table
        for gone in set(self.indexes) - set(counts):
            del self.indexes[gone]
        for gone in set(self.skipped) - set(counts):
            del self.skipped[gone]
        for m, n in sorted(counts.items(), key=lambda kv: str(kv[0])):
            if n < self.min_rows:
                # dropped below threshold: the model serves brute again
                self.indexes.pop(m, None)
                self._counts.pop(m, None)
                self.skipped[m] = n
                continue
            self.skipped.pop(m, None)
            if m in self.indexes and self._counts.get(m) == n:
                continue  # unchanged since last build — skip the refit
            subset = vectors.filter(F.col(self.model_col) == m)
            self.indexes[m] = build_vector_index(
                subset,
                n_lists=ivf_n_lists(n, policy=self.lists_policy),
                nprobe=self.nprobe,
                id_col=self.id_col,
                vec_col=self.vec_col,
                seeded=self.seeded,
                n_rows=n,
            )
            self._counts[m] = n
        return self

    def knn(
        self, vectors: DataFrame, model, query_vec: list[float], k: int = 10
    ) -> DataFrame:
        """Route: the model's index when built, else the brute scan over
        that model's rows (correctness-identical, latency-different)."""
        from connapse_spark.operators.search import vector_knn

        idx = self.indexes.get(model)
        if idx is not None:
            # one probe implementation: ann_ivf_topk owns the
            # rank/tie-break contract (score DESC, id) for the index path
            return ann_ivf_topk(
                idx.index, idx.centroids, query_vec, k, nprobe=idx.nprobe
            ).select("id", "score")
        subset = vectors.filter(F.col(self.model_col) == model).select(
            F.col(self.id_col).alias("id"), F.col(self.vec_col)
        )
        return vector_knn(subset, query_vec, k, id_col="id", vec_col=self.vec_col)

    def status(self) -> list[tuple]:
        """(model, built, n_lists|rows) — the discovery view an operator
        checks before forcing a rebuild (cf. analytics.model_discovery)."""
        rows = [
            (m, True, idx.centroids.count()) for m, idx in self.indexes.items()
        ] + [(m, False, n) for m, n in self.skipped.items()]
        return sorted(rows, key=lambda r: str(r[0]))


def sql_ann_ivf_seeded(
    query_vec: list[float], k: int = 10, nprobe: int = 3, n_lists: int = 8
) -> str:
    """Mirror of build_ivf_index_seeded + ann_ivf_topk: same assignment CTE
    as cluster_assign, the same driver-side probe ranking expressed as an
    ORDER BY ... LIMIT nprobe, cosine in the identical fold order (the
    Python qn fold and the SQL sqrt-fold are the same sequential FP ops)."""
    from connapse_spark.functions.embed import sql_vector_literal
    from connapse_spark.functions.vector import sql_cosine
    from connapse_spark.operators.similarity import sql_cluster_assign

    qv = sql_vector_literal(query_vec)
    return f"""
WITH q AS (SELECT {qv} AS qv),
assigned AS ({sql_cluster_assign(n_lists)}),
seeds AS (SELECT CAST(vec_id AS BIGINT) AS list_id, CAST(embedding AS DOUBLE[]) AS centroid
          FROM embeddings ORDER BY vec_id LIMIT {n_lists}),
probe AS (
  SELECT list_id FROM (
    SELECT list_id, {sql_cosine("centroid", "qv")} AS s FROM seeds, q
  ) ORDER BY s DESC, list_id LIMIT {nprobe}
)
SELECT e.vec_id AS id, a.cluster AS list_id,
       {sql_cosine("CAST(e.embedding AS DOUBLE[])", "qv")} AS score
FROM embeddings e JOIN assigned a USING (vec_id) JOIN probe p ON a.cluster = p.list_id, q
ORDER BY score DESC, id LIMIT {k}
""".strip()


def ivf_index_upsert(
    index: DataFrame,
    centroids: DataFrame,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance (M6 as a production index manager runs
    it): assign a batch of NEW vectors to the EXISTING centroids — no
    refit — and merge, last-writer-wins on id (a re-ingested chunk's new
    embedding replaces its old list entry). pgvector's ivfflat does the
    same on INSERT: rows are routed to the nearest existing list; the fit
    only reruns on REINDEX (the policy decision ivf_n_lists informs).

    Plan: broadcast the centroid table (≤100 rows by the lists policy),
    map-side argmax fold per new vector — the batch never shuffles for
    assignment; the LWW merge is one window over id, and since both sides
    are (or should be written) partitioned by list_id, the merge output
    keeps the layout-as-index property.

    Returns the merged (id, list_id, vec, norm) index.
    """
    packed = centroids.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("list_id").alias("cid"), F.col("centroid").alias("cvec")))
        ).alias("_seeds")
    )
    v = to_double_array(F.col(vec_col))
    acc0 = F.struct(
        F.lit(-1).cast(dict(centroids.dtypes)["list_id"]).alias("cid"),
        F.lit(-2.0).alias("score"),
    )

    # materialize the cast vector once, then fold/norm over the cheap
    # column (r11): the to_double_array cast re-ran inside every fold
    # step and in both output references — k+2 redundant O(d) passes per
    # row; sc was referenced by both the comparison and the kept struct.
    # The boundary survives CollapseProject: `vec` is non-cheap and
    # multi-referenced (fold + output + norm).
    pre = new_vectors.crossJoin(F.broadcast(packed)).select(
        F.col(id_col).alias("id"), v.alias("vec"), F.col("_seeds")
    )

    def _step(acc, s):
        return bind_once(
            cosine_expr(s["cvec"], F.col("vec")),
            lambda sc: F.when(
                sc > acc["score"], F.struct(s["cid"].alias("cid"), sc.alias("score"))
            ).otherwise(acc),
        )

    best = F.aggregate("_seeds", acc0, _step)
    assigned = pre.select(
        "id",
        best["cid"].alias("list_id"),
        F.col("vec"),
        l2norm_expr(F.col("vec")).alias("norm"),
        F.lit(1).alias("_gen"),
    )
    merged = index.select("id", "list_id", "vec", "norm").withColumn(
        "_gen", F.lit(0)
    ).unionByName(assigned)
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy(F.desc("_gen"))
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "list_id", "vec", "norm")
    )


def sql_ivf_index_upsert_seeded(n_lists: int = 8, shift: int = 10_000, n_new: int = 20) -> str:
    """Mirror of the driver query over ivf_index_upsert with the seeded
    index: base assignment = the cluster_assign CTE; the synthetic new
    batch (lowest n_new vectors re-keyed to id+shift plus the same rows
    re-upserted under their own ids) is assigned by the identical
    argmax-rank; LWW merge keeps generation 1 over 0."""
    from connapse_spark.functions.vector import sql_cosine, sql_norm
    from connapse_spark.operators.similarity import sql_cluster_assign

    return f"""
WITH assigned AS ({sql_cluster_assign(n_lists)}),
base AS (
  SELECT a.vec_id AS id, a.cluster AS list_id,
         {sql_norm("CAST(e.embedding AS DOUBLE[])")} AS norm, 0 AS gen
  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
),
seeds AS (SELECT CAST(vec_id AS BIGINT) AS cid, CAST(embedding AS DOUBLE[]) AS cvec
          FROM embeddings ORDER BY vec_id LIMIT {n_lists}),
newb AS (
  SELECT vec_id + {shift} AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {n_new}
  UNION ALL
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {n_new}
),
newscored AS (
  SELECT id, cid, {sql_cosine("v", "cvec")} AS s, {sql_norm("v")} AS norm
  FROM newb CROSS JOIN seeds
),
newassigned AS (
  SELECT id, cid AS list_id, norm, 1 AS gen FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rk
    FROM newscored
  ) WHERE rk = 1
),
merged AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY gen DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM newassigned)
  ) WHERE rn = 1
)
SELECT id, list_id, norm FROM merged ORDER BY id
""".strip()


def ivf_drift(index: DataFrame, dims: int = 64, round_digits: int = 6) -> DataFrame:
    """The M6 "rebuild on drift" DECISION GAUGE: refresh each list's
    centroid as the mean of its current members (one Lloyd update,
    computed as a sorted sequential fold for bit determinism — the
    mean_pool discipline) and measure how much of the stored layout a
    refit would move: a vector "would reassign" when its best-cosine
    refreshed centroid is not its stored list. A rising reassign_frac
    after upsert waves is exactly the signal that the lists no longer
    match the data distribution and build_ivf_index should rerun
    (pgvector: REINDEX; the reference's VectorColumnManager rebuild).

    Output ONE row: (n_vectors, n_lists, n_reassigned, reassign_frac).

    Plan: per-list mean = one groupBy(list_id) sorted-fold aggregate
    (k rows); the refreshed centroids collapse to ONE broadcast row;
    the would-reassign argmax is a map-side fold per vector; the verdict
    is a single-row aggregate. No corpus shuffle beyond the per-list
    groupBy — at 100 TB this is an audit-priced scan, not a rebuild."""
    means = (
        index.select(
            "list_id",
            F.struct(F.col("id").alias("i"), F.col("vec").alias("v")).alias("sv"),
        )
        .groupBy("list_id")
        .agg(F.sort_array(F.collect_list("sv")).alias("svs"))
        .select(
            "list_id",
            F.transform(
                F.aggregate(
                    "svs",
                    F.array_repeat(F.lit(0.0), dims),
                    lambda acc, sv: F.zip_with(acc, sv["v"], lambda x, y: x + y),
                ),
                lambda x: x / F.size("svs"),
            ).alias("centroid"),
        )
    )
    packed = means.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("list_id").alias("cid"), F.col("centroid").alias("cvec"))
            )
        ).alias("_seeds")
    )
    acc0 = F.struct(
        F.lit(-1).cast(dict(index.dtypes)["list_id"]).alias("cid"),
        F.lit(-2.0).alias("score"),
    )

    def _step(acc, s):
        # strict > keeps the FIRST (lowest cid — _seeds is sorted) on ties,
        # matching the SQL row_number ORDER BY s DESC, cid. sc is bound
        # once (r11): it was referenced by both the comparison and the
        # kept struct, running the O(d) cosine twice per seed.
        return bind_once(
            cosine_expr(s["cvec"], F.col("vec")),
            lambda sc: F.when(
                sc > acc["score"], F.struct(s["cid"].alias("cid"), sc.alias("score"))
            ).otherwise(acc),
        )

    best = F.aggregate("_seeds", acc0, _step)
    scored = index.crossJoin(F.broadcast(packed)).select(
        "id", "list_id", best["cid"].alias("new_list")
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("list_id").cast("long").alias("n_lists"),
        F.sum(F.when(F.col("new_list") != F.col("list_id"), 1).otherwise(0))
        .cast("long")
        .alias("n_reassigned"),
    )
    return agg.select(
        "*",
        F.round(F.col("n_reassigned") / F.col("n_vectors"), round_digits).alias(
            "reassign_frac"
        ),
    )


def maybe_rebuild_index(
    vidx: VectorIndex,
    vectors: DataFrame,
    threshold: float = 0.2,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    sample_fraction: float | None = None,
    seeded: bool = False,
    lists_policy: str = "reference",
) -> "tuple[bool, VectorIndex]":
    """The M6 rebuild-on-drift DECISION, closed into one call (reference:
    VectorColumnManager's rebuild path; pgvector REINDEX). Two triggers:

    1. **Size**: the lists policy wants more lists than the served index
       has (``ivf_n_lists(current rows) > stored lists``) — corpus growth
       the drift gauge is structurally blind to (a 1-list index can never
       report reassignments: there is only one candidate centroid).
    2. **Drift**: :func:`ivf_drift`'s ``reassign_frac`` over the served
       layout crosses ``threshold`` — upsert waves redistributed the data
       within the existing list count. A one-list index skips the gauge:
       no probe depends on its centroid, and a refit at the same size
       would rebuild the same single list. Only one-list layouts save the
       gauge's scan this way (every index under ~2,000 rows with the
       reference lists policy).

    Returns ``(rebuilt, VectorIndex)`` so a maintenance job commits the
    new layout through the snapshot layer only when it actually changed.
    ``seeded`` preserves the served bundle's regime across the rebuild —
    a seeded (oracle-mirrorable, numeric-id) index must refit seeded, or
    downstream SQL mirrors silently disagree with the served list_ids."""
    if n_rows is None:
        n_rows = vectors.count()
    have_lists = vidx.centroids.count()
    want_lists = ivf_n_lists(n_rows, policy=lists_policy)
    if want_lists <= have_lists:
        if have_lists == 1:
            return False, vidx
        verdict = ivf_drift(vidx.index, dims=dims).first()
        frac = float(verdict["reassign_frac"] or 0.0)
        if frac < threshold:
            return False, vidx
    return True, build_vector_index(
        vectors,
        n_lists=None if not seeded else max(want_lists, 2),
        nprobe=vidx.nprobe,
        id_col=id_col,
        vec_col=vec_col,
        n_rows=n_rows,
        sample_fraction=sample_fraction,
        seeded=seeded,
    )


def sql_ivf_drift_seeded(n_lists: int = 8, dims: int = 64) -> str:
    """Mirror over the SEEDED index: cluster_assign's CTE rebuilds the
    stored layout, the per-list mean is the same sorted fold as
    sql_mean_pool_by, and the would-reassign argmax ranks by
    (cosine DESC, cid) — identical FP orders throughout."""
    from connapse_spark.functions.vector import sql_cosine
    from connapse_spark.operators.similarity import sql_cluster_assign

    return f"""
WITH assigned AS ({sql_cluster_assign(n_lists)}),
idx AS (
  SELECT a.vec_id AS id, a.cluster AS list_id, CAST(e.embedding AS DOUBLE[]) AS vec
  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
),
gathered AS (
  SELECT list_id, list({{'i': id, 'v': vec}} ORDER BY id) AS svs
  FROM idx GROUP BY list_id
),
means AS (
  SELECT list_id,
         list_transform(
           list_reduce(
             list_prepend(list_transform(range(0, {dims}), x -> 0.0),
                          list_transform(svs, sv -> sv.v)),
             (acc, v) -> list_transform(range(1, {dims} + 1), i -> acc[i] + v[i])),
           x -> x / len(svs)) AS centroid
  FROM gathered
),
scored AS (
  SELECT idx.id, idx.list_id, m.list_id AS cid,
         {sql_cosine("m.centroid", "idx.vec")} AS s
  FROM idx CROSS JOIN means m
),
best AS (
  SELECT id, list_id, cid AS new_list FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT list_id) AS BIGINT) AS n_lists,
       CAST(sum(CASE WHEN new_list != list_id THEN 1 ELSE 0 END) AS BIGINT) AS n_reassigned,
       round(sum(CASE WHEN new_list != list_id THEN 1 ELSE 0 END) / count(*), 6) AS reassign_frac
FROM best
""".strip()
