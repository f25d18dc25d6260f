"""Deduplication operators for LLM training-data pipelines (north-star
extras beyond the reference surface; generalizes the reference's
content-hash embedding cache E2/T3 — EmbeddingCache.cs:43-47,
IngestionPipeline.cs:502-517 — into corpus-level dedup).

Scale design (100 TB):
 - exact: one hash-groupBy shuffle on a 64-hex key; the window variant keeps
   every row classifiable (keep/drop) without a second join.
 - minhash-LSH: shingle → k minhashes → b bands; candidate pairs come from a
   band-bucket self-join (shuffle on (band, bucket-hash)), NEVER a cross
   join. Verification re-computes exact Jaccard only on candidates.
 - n-gram Jaccard: inverted-index join on shingles (pairs sharing ≥1 shingle
   are exactly the pairs with Jaccard > 0); skew from stop-shingles is
   bounded by the size-window join predicate (inverted) and by rarest-first
   prefix selection (prefix/PPJoin) — no frequency cap, both methods stay
   EXACT.
 - simhash: per-row fingerprint (map-side), pairs via banded equality.
Everything below is deterministic (sha256-derived hashes) and mirrored in
DuckDB SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connapse_spark.functions.text import (
    spark_sql_tokens_exact,
    sql_tokens_exact,
    tokens_exact_expr,
)
from connapse_spark.functions.vector import spark_sql_bind, spark_sql_literal

HASH_MOD = 2147483647  # 2^31 - 1, Mersenne prime


def _sha_bigint(col: Column) -> Column:
    """First 8 hex chars of sha256 as a bigint in [0, 2^32) — the shared
    deterministic token hash (same formula as the hash embedder)."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 8), 16, 10).cast("bigint")


def sql_sha_bigint(c: str) -> str:
    return f"('0x' || substr(sha256({c}), 1, 8))::BIGINT"


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy / keep-first window)
# ---------------------------------------------------------------------------


def spark_sql_dup_rank(hash_col: str, id_col: str) -> str:
    """Spark-SQL text of a document's rank in its content-hash group (by id
    asc) — rank 1 is the kept copy."""
    return f"row_number() OVER (PARTITION BY {hash_col} ORDER BY {id_col})"


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Classify every document: content sha256, duplicate-group size, rank
    within group (by id asc), and the keep flag (first id wins).
    One shuffle on the hash; no join."""
    return (
        docs.selectExpr(f"`{id_col}`", f"sha2(`{text_col}`, 256) AS content_hash")
        .selectExpr(
            "*",
            f"{spark_sql_dup_rank('content_hash', f'`{id_col}`')} AS dup_rank",
            "count(1) OVER (PARTITION BY content_hash) AS group_size",
        )
        .selectExpr("*", "dup_rank = 1 AS is_kept")
    )


def sql_exact_dedup(id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT {id_col}, content_hash,
       row_number() OVER (PARTITION BY content_hash ORDER BY {id_col}) AS dup_rank,
       count(*) OVER (PARTITION BY content_hash) AS group_size,
       (row_number() OVER (PARTITION BY content_hash ORDER BY {id_col}) = 1) AS is_kept
FROM (SELECT {id_col}, sha256({text_col}) AS content_hash FROM documents)
""".strip()


# ---------------------------------------------------------------------------
# Token shingles
# ---------------------------------------------------------------------------


def spark_sql_shingles(toks: str, n: int = 3) -> str:
    """Spark-SQL text of the distinct n-gram token shingles of the token
    array ``toks``, joined with ' ' and sorted for a deterministic array
    order. ``toks`` must be cheap to reference (a column or a lambda
    variable): the text names it 2n-1 times.

    Built by zip_with over SHIFTED copies of the token array instead of a
    positional transform whose lambda indexes back into the array: Catalyst
    re-evaluates lambda-captured subexpressions per element, which turns a
    slice-in-lambda formulation into O(tokens²) re-tokenization per
    document (~20s just to shingle 5k docs). zip_with lambdas touch only
    their own arguments. zip_with pads to the longer side with nulls and
    concat propagates null, so trailing (incomplete) windows filter out."""
    acc = toks
    for j in range(1, n):
        shifted = f"slice({toks}, {j + 1}, greatest(size({toks}) - {j}, 0))"
        acc = f"zip_with({acc}, {shifted}, (x, y) -> concat(x, ' ', y))"
    return f"array_sort(array_distinct(filter({acc}, s -> s IS NOT NULL)))"


def _text_shingles_sql(text_col: str, n: int, tokens_col: str | None = None) -> str:
    """Shingles of column ``text_col`` as Spark-SQL text; from the token
    column ``tokens_col`` instead when the caller already holds
    ``tokens_exact_expr(text_col)`` there (identical values). The token
    array is BOUND once as a lambda variable (r11): HOFs evaluate
    interpreted, outside codegen's subexpression elimination, so each of
    the shingle text's references would otherwise re-run the tokenizer
    (measured 1.5× on the sf0.1 shingle+sha pass)."""
    if tokens_col is not None:
        return spark_sql_shingles(f"`{tokens_col}`", n)
    return spark_sql_bind(
        spark_sql_tokens_exact(f"`{text_col}`"), "_t", spark_sql_shingles("_t", n)
    )


def shingles_expr(text_col: str, n: int = 3) -> Column:
    """Column of the distinct sorted n-gram token shingles of column
    ``text_col`` (see :func:`spark_sql_shingles`), one ``F.expr`` call."""
    return F.expr(_text_shingles_sql(text_col, n))


def sql_shingles(c: str, n: int = 3) -> str:
    toks = sql_tokens_exact(c)
    return (
        f"list_sort(list_distinct(list_filter(list_transform(range(1, len({toks}) + 1), "
        f"i -> CASE WHEN i + {n} - 1 <= len({toks}) "
        f"THEN array_to_string(list_slice({toks}, i, i + {n} - 1), ' ') END), "
        f"s -> s IS NOT NULL)))"
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (inverted-index join — exact, scalable)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "auto",
) -> DataFrame:
    """Exact Jaccard over distinct n-gram shingles. Two physical strategies,
    auto-selected on the threshold (both exact — no false negatives):

    - ``inverted`` (t < 0.5): explode → self-join on shingle with a LENGTH
      FILTER in the join condition (Jaccard ≥ t ⇒ t·|B| ≤ |A| ≤ |B|/t, so
      size-incompatible pairs never enter the shuffle) → per-pair shared
      counts via groupBy. Best when t is low and prefixes barely prune.
    - ``prefix`` (t ≥ 0.5): PPJoin-style prefix filtering (Xiao et al.,
      WWW'08): order each doc's shingles by global rarity (df asc, shingle
      asc); if Jaccard(A,B) ≥ t the first ``|A| − ⌈t·|A|⌉ + 1`` shingles
      must share an element, so only that prefix (≤ half the tokens at
      t ≥ 0.5, rarest-first → skew-free) enters the candidate join;
      candidates verified with the full intersection.
    """
    if method == "auto":
        method = "prefix" if threshold >= 0.5 else "inverted"
    sh = docs.select(
        F.col(id_col).alias("id"), shingles_expr(text_col, n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    # The plan below fans `sh` into up to 5 consumers (df-count, both sides
    # of the candidate join, both verification sides); without a
    # materialization barrier each consumer re-runs tokenize+shingle over
    # the corpus. This is an index-build operator — persisting the shingle
    # table IS the index. The CacheManager holds the entry until
    # unpersist() or clearCache(); it is not released when the plan is
    # garbage-collected.
    sh = sh.persist()
    # the n_sh>0 screen sits ABOVE the persist (r11): below it, predicate
    # pushdown substitutes the alias and the cache build runs
    # size(<full tokenize+shingle expr>)>0 per row in the scan filter and
    # the shingle expression AGAIN in the projection — one extra corpus
    # tokenize pass; over the cached column the same filter is an
    # attribute read
    sh = sh.filter(F.col("n_sh") > 0)
    ex = sh.select("id", "n_sh", F.explode("sh").alias("s"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))

    if method == "inverted":
        a, b = ex.alias("a"), ex.alias("b")
        t = F.lit(threshold)
        pairs = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("a.n_sh") * t <= F.col("b.n_sh"))
                & (F.col("b.n_sh") * t <= F.col("a.n_sh")),
            )
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.n_sh").alias("na"),
                F.col("b.n_sh").alias("nb"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        verified = pairs
    else:
        dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("id").orderBy("df", "s")
        prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        prefix = (
            ex.join(dfreq, "s")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= prefix_len)
            .select("id", "s", "n_sh", "rn")
        )
        # r12 (VERDICT r11 ask #4, guide §5): BOTH sides of the candidate
        # self-join read `prefix`, and Spark does not share the subtree —
        # the executed plan built the document-frequency aggregate, its
        # join and the rarity-rank window TWICE (verified in
        # plans/r12/ngram_jaccard_prefix_before.txt, operators 20-24 vs
        # 42-46). Persisting the prefix table computes that pipeline once.
        # Like `sh` above, the cache entry stays in the CacheManager until
        # unpersist() or clearCache(): a persisted DataFrame is not
        # released when its plan is garbage-collected.
        prefix = prefix.persist()
        # Candidate pruning beyond the shared-prefix-shingle condition, both
        # safe (a qualifying pair passes them on EVERY shared occurrence, so
        # none is dropped): (1) size window t·|A| ≤ |B| ≤ |A|/t; (2) PPJoin
        # positional bound — counting from the matched positions, the total
        # overlap can be at most min(ra,rb)-1 before plus min(na-ra, nb-rb)+1
        # from here, and Jaccard ≥ t needs shared ≥ t·(na+nb)/(1+t). Cuts
        # candidates ~10× before the array-intersect verification.
        t = F.lit(threshold)
        required = F.ceil(t * (F.col("a.n_sh") + F.col("b.n_sh")) / (F.lit(1.0) + t))
        max_shared = F.least(F.col("a.rn"), F.col("b.rn")) + F.least(
            F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
        )
        cand = (
            prefix.alias("a")
            .join(
                prefix.alias("b"),
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("a.n_sh") * t <= F.col("b.n_sh"))
                & (F.col("b.n_sh") * t <= F.col("a.n_sh"))
                & (max_shared >= required),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        va = sh.select(
            F.col("id").alias("id_a"), F.col("sh").alias("_sha"), F.col("n_sh").alias("na")
        )
        vb = sh.select(
            F.col("id").alias("id_b"), F.col("sh").alias("_shb"), F.col("n_sh").alias("nb")
        )
        verified = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                "na",
                "nb",
                F.size(F.array_intersect("_sha", "_shb")).alias("shared"),
            )
        )
    return (
        verified.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def sql_ngram_jaccard_pairs(threshold: float = 0.4, n: int = 3, method: str = "auto") -> str:
    if method == "auto":
        method = "prefix" if threshold >= 0.5 else "inverted"
    base = f"""
WITH sh AS MATERIALIZED (
  SELECT id, sh, len(sh) AS n_sh
  FROM (SELECT doc_id AS id, {sql_shingles("text", n)} AS sh FROM documents)
  WHERE len(sh) > 0
),
ex AS MATERIALIZED (SELECT id, n_sh, unnest(sh) AS s FROM sh),"""
    if method == "inverted":
        body = f"""
verified AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS shared
  FROM ex a JOIN ex b
    ON a.s = b.s AND a.id < b.id
   AND a.n_sh * {threshold!r} <= b.n_sh AND b.n_sh * {threshold!r} <= a.n_sh
  GROUP BY 1, 2, 3, 4
)"""
    else:
        body = f"""
dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
prefix AS (
  SELECT id, s, n_sh, rn FROM (
    SELECT ex.id, ex.s, ex.n_sh,
           row_number() OVER (PARTITION BY ex.id ORDER BY df, ex.s) AS rn
    FROM ex JOIN dfreq USING (s)
  ) WHERE rn <= n_sh - CAST(ceil({threshold!r} * n_sh) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM prefix a JOIN prefix b
    ON a.s = b.s AND a.id < b.id
   AND a.n_sh * {threshold!r} <= b.n_sh AND b.n_sh * {threshold!r} <= a.n_sh
   AND least(a.rn, b.rn) + least(a.n_sh - a.rn, b.n_sh - b.rn)
       >= ceil({threshold!r} * (a.n_sh + b.n_sh) / (1.0 + {threshold!r}))
),
verified AS (
  SELECT id_a, id_b, va.n_sh AS na, vb.n_sh AS nb,
         len(list_intersect(va.sh, vb.sh)) AS shared
  FROM cand JOIN sh va ON cand.id_a = va.id JOIN sh vb ON cand.id_b = vb.id
)"""
    return (
        base
        + body
        + f"""
SELECT id_a, id_b, shared / (na + nb - shared) AS jaccard
FROM verified WHERE shared / (na + nb - shared) >= {threshold!r}
ORDER BY id_a, id_b
""".rstrip()
    ).strip()


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def spark_sql_sha_bigint(c: str) -> str:
    """:func:`_sha_bigint` as Spark-SQL text."""
    return f"CAST(conv(substring(sha2({c}, 256), 1, 8), 16, 10) AS BIGINT)"


def spark_sql_minhash_signature(x: str, num_hashes: int = 32) -> str:
    """Spark-SQL AGGREGATE text: the k-component MinHash signature of a
    group's shingle hashes ``x`` — k minhashes h_i(x) = ((2i+1)·x + i² + 7)
    mod p with coefficients derived from i (no RNG, identical in the SQL
    mirror). Each component is a plain ``min``, so partial (map-side)
    aggregation keeps the shuffle at k longs per group; a group with no
    non-null ``x`` gets k NULLs."""
    mins = ", ".join(
        f"min(({x} * {2 * i + 1} + {i * i + 7}) % {HASH_MOD})" for i in range(num_hashes)
    )
    return f"array({mins})"


def spark_sql_band_keys(sig: str, num_hashes: int = 32, bands: int = 8) -> str:
    """Spark-SQL text of the ``bands`` (band, key) structs of signature
    ``sig``: key = the band's r = k/b components joined with ','."""
    r = num_hashes // bands
    return (
        f"transform(sequence(0, {bands - 1}), b -> named_struct('band', b, 'key', "
        f"concat_ws(',', transform(slice({sig}, b * {r} + 1, {r}), v -> CAST(v AS STRING)))))"
    )


def spark_sql_minhash_estimate(sig_a: str, sig_b: str, num_hashes: int = 32) -> str:
    """Spark-SQL text of the MinHash Jaccard ESTIMATE: the fraction of
    agreeing signature components."""
    return (
        f"size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), e -> e)) "
        f"/ {spark_sql_literal(float(num_hashes))}"
    )


def band_signatures(sig: DataFrame, num_hashes: int = 32, bands: int = 8) -> DataFrame:
    """(id, sig) → (id, sig, band, key): one row per band of each signature."""
    # inline_outer: the band array is never empty (bands >= 1), but a plain
    # inline's inferred size()>0 filter would rebuild every band key per row
    # a second time (see minhash_banded)
    return sig.selectExpr(
        "id", "sig", f"inline_outer({spark_sql_band_keys('sig', num_hashes, bands)})"
    )


def band_pairs(banded: DataFrame, threshold: float, num_hashes: int = 32) -> DataFrame:
    """(id_a < id_b, est_jaccard) of the banded self-join (shuffle on the
    band key, never a cross join) that pass the estimate filter — one row
    per shared band, so a pair sharing several bands repeats."""
    a, b = banded.alias("a"), banded.alias("b")
    est = spark_sql_minhash_estimate("a.sig", "b.sig", num_hashes)
    return (
        a.join(b, F.expr("a.band = b.band AND a.key = b.key AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b", f"{est} AS est_jaccard")
        .filter(f"est_jaccard >= {spark_sql_literal(threshold)}")
    )


def minhash_banded(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, sig, band, key): signatures + band keys — the SHARED kernel of
    the one-shot pair finder and the persisted incremental index (write it
    partitioned by band; band-key probes then prune at the layout level).
    ``tokens_col`` as in :func:`contamination_check` (r12 pass fusion).

    Signature via explode → groupBy(id) with k cheap min-aggregates:
    sha256 runs ONCE per (doc, shingle) row and partial (map-side) mins
    keep the shuffle at k longs per doc. A nested-HOF signature (min over
    a transform of the shingle-hash array per hash function) re-evaluates
    the whole array per hash function because Catalyst does not hoist
    lambda-invariant subexpressions — ~30× slower on wide docs."""
    # explode_outer + isnotnull ≡ explode, but dodges InferFiltersFromGenerate:
    # for a plain explode that rule adds size(<arr>)>0 under the Generate and
    # predicate pushdown substitutes the shingle expression through the
    # projection — a SECOND full tokenize+shingle pass per row (r11; the
    # explicit isnotnull sits on the GENERATED attribute, which cannot push
    # below the Generate, and restores the exact row set)
    sh = _text_shingles_sql(text_col, n, tokens_col)
    sig = (
        docs.selectExpr(f"`{id_col}` AS id", f"explode_outer({sh}) AS s")
        .filter("s IS NOT NULL")
        .selectExpr("id", f"{spark_sql_sha_bigint('s')} AS x")
        .groupBy("id")
        .agg(F.expr(f"{spark_sql_minhash_signature('x', num_hashes)} AS sig"))
    )
    return band_signatures(sig, num_hashes, bands)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup: signature → b bands of r=k/b rows; docs sharing
    any band key become candidates (shuffle on the band key, never a cross
    join); candidates verified with the minhash Jaccard ESTIMATE
    (fraction of agreeing components) ≥ threshold.

    Output: (id_a, id_b, est_jaccard). Deterministic; oracle-mirrored.
    ``tokens_col`` as in :func:`contamination_check` (r12 pass fusion).
    Ids must be unique: the estimate is a function of the pair's ids, so
    ``distinct`` folds a pair's per-band rows into one.
    """
    banded = minhash_banded(docs, n, num_hashes, bands, id_col, text_col, tokens_col)
    return band_pairs(banded, threshold, num_hashes).distinct().orderBy("id_a", "id_b")


def sql_minhash_lsh_pairs(
    threshold: float = 0.4,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    table: str = "documents",
) -> str:
    rows_per_band = num_hashes // bands
    mins = ", ".join(
        f"min((x * {2 * i + 1} + {i * i + 7}) % {HASH_MOD})" for i in range(num_hashes)
    )
    return f"""
WITH ex AS MATERIALIZED (
  SELECT id, {sql_sha_bigint('s')} AS x
  FROM (SELECT doc_id AS id, unnest({sql_shingles("text", n)}) AS s FROM {table})
),
sig AS MATERIALIZED (
  SELECT id, [{mins}] AS sig
  FROM ex GROUP BY id
),
banded AS MATERIALIZED (
  SELECT id, sig, b.band AS band,
         array_to_string(list_transform(list_slice(sig, b.band * {rows_per_band} + 1, b.band * {rows_per_band} + {rows_per_band}), v -> CAST(v AS VARCHAR)), ',') AS key
  FROM sig, (SELECT unnest(range(0, {bands})) AS band) b
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT id_a, id_b,
       len(list_filter(list_transform(range(1, {num_hashes} + 1), i -> sig_a[i] = sig_b[i]), e -> e)) / {float(num_hashes)!r} AS est_jaccard
FROM cand
WHERE len(list_filter(list_transform(range(1, {num_hashes} + 1), i -> sig_a[i] = sig_b[i]), e -> e)) / {float(num_hashes)!r} >= {threshold!r}
ORDER BY id_a, id_b
""".strip()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 60 bits = 15 sha256 hex chars: the widest fingerprint whose per-token
# hash still fits a SIGNED bigint with headroom (2^60), so every shift /
# xor / bit_count below is exact integer math on both engines. At corpus
# scale the wide fingerprint is what keeps pigeonhole buckets sparse:
# 4 bands × 15 bits = 32k bucket values per band vs 256 at 32 bits.
SIMHASH_BITS = 60


def _sha_bigint60(col: Column) -> Column:
    """First 15 hex chars of sha256 as a bigint in [0, 2^60)."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("bigint")


def sql_sha_bigint60(c: str) -> str:
    return f"('0x' || substr(sha256({c}), 1, 15))::BIGINT"


def simhash_from_hashes_expr(th: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint from a materialized token-hash array: per bit,
    the ±1 sum over tokens reduces to ``2·count(bit set) − n > 0`` (integer
    identity), so the hash array is scanned with cheap arithmetic only.

    Bit extraction is ``getbit(h, i)`` (exact integer op, column position —
    works for the full 60-bit width); the bit weight ``2^i`` comes from
    float pow, exact for powers of two. The per-bit loop stays a COMPACT
    ``aggregate(sequence(...))`` fold rather than a Python-unrolled sum: an
    unrolled 60-term when-chain costs multiple SECONDS of Janino codegen
    compilation per distinct plan (measured 4.2s first-run vs 1.2s here),
    while the fold's expression tree is constant-size."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.when(
            F.lit(2)
            * F.size(F.filter(th, lambda h: F.call_function("getbit", h, i) == 1))
            - F.size(th)
            > 0,
            F.pow(F.lit(2.0), i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )


def _sql_simhash_from_th(th: str, bits: int = SIMHASH_BITS) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(range(0, {bits}), i -> "
        f"CASE WHEN 2 * len(list_filter({th}, h -> (h >> i) & 1 = 1)) - len({th}) > 0 "
        f"THEN (1::BIGINT << i) ELSE 0::BIGINT END)), (a, b) -> a + b)"
    )


def _simhash_df(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Map-side fingerprint: the token-hash array is materialized in its own
    projection (sha256 once per token; the projection survives because the
    reference is non-cheap and multiply-used), then the 60 bit-majority
    passes scan that COLUMN — never re-derive the array inside a lambda.
    Zero shuffle; an explode + 60-codegen'd-sums alternative measured the
    same wall-clock here but adds a shuffle of every token row, so the
    map-side form wins at scale."""
    th = F.transform(tokens_exact_expr(F.col(text_col)), lambda t: _sha_bigint60(t))
    return docs.select(F.col(id_col), th.alias("_th")).select(
        F.col(id_col), simhash_from_hashes_expr(F.col("_th")).alias("simhash")
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The token-hash array is materialized in its own projection so the
    60-bit scan reuses it instead of re-hashing per bit (sha256 once per
    token; Catalyst keeps the projection because the reference is non-cheap
    and multiply-used)."""
    return _simhash_df(docs, id_col, text_col).orderBy(id_col)


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: fingerprints → ``max_hamming + 1`` bit bands
    (pigeonhole: two hashes within Hamming distance d differ in at most d
    bands, so they MUST agree on at least one — exact, no false negatives)
    → candidate self-join on (band, value) → verify with
    ``bit_count(a XOR b) ≤ d``. The verification is integer-only, so unlike
    minhash this family never touches the token arrays past the fingerprint.

    Output: (id_a, id_b, hamming), the Hamming distance between fingerprints.

    Scale: band selectivity is 2^(bits/(d+1)) per bucket; at corpus scale
    raise SIMHASH_BITS to 64 so buckets stay sparse — the plan shape is
    unchanged (the candidate join shuffles on (band, val) only).
    """
    # each band needs ≥1 bit, or every row shares one band key and the
    # candidate self-join degenerates to all-pairs
    if not 0 <= max_hamming < SIMHASH_BITS:
        raise ValueError(
            f"max_hamming must be in [0, {SIMHASH_BITS - 1}] "
            f"(got {max_hamming}: {max_hamming + 1} bands over {SIMHASH_BITS} bits)"
        )
    # fingerprint persisted only for the kernel's lifetime (the sha256-per-
    # token pass is the expensive half; both self-join sides read it)
    return scoped_fp_pairs(
        _simhash_df(docs, id_col, text_col),
        lambda fp: hash_neardup_pairs(
            fp, "simhash", bits=SIMHASH_BITS, max_hamming=max_hamming, id_col=id_col
        ),
    )


def scoped_fp_pairs(fp: DataFrame, build) -> DataFrame:
    """Scope a fingerprint frame's persist lifetime (ADVICE r8: every
    banded-kernel consumer persisted its decode/hash cache with no
    unpersist path, so cached blocks accumulated for the session — one
    leak per kernel consumer per bench run). The kernel reads ``fp``
    once per band on both self-join sides, so it must be cached while
    the pairs materialize; the PAIR frame is candidate-bounded (orders
    of magnitude smaller than the fingerprint/decode output), so it
    gets its own persist, an eager count materializes it while ``fp``
    is still cached, and the fingerprint blocks release immediately.
    Callers done with the result may ``.unpersist()`` it; a forgotten
    pair-frame cache is bounded by the match count, not the corpus."""
    fp = fp.persist()
    pairs = build(fp).persist()
    pairs.count()
    fp.unpersist()
    return pairs


def hash_neardup_pairs(
    df: DataFrame,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    match_cols: list[str] | None = None,
) -> DataFrame:
    """The banded-Hamming pair kernel over ANY precomputed integer
    fingerprint column (r8 — simhash's banding exposed for external
    fingerprint families; first consumer:
    ``multimodal.image_neardup_pairs``'s 64-bit perceptual hashes). Same
    pigeonhole exactness as simhash: ``max_hamming + 1`` bit bands, two
    hashes within distance d must agree on ≥1 band, candidate self-join
    on (band, val), integer XOR/bit_count verify. Works on full signed
    64-bit fingerprints: band extraction masks after the shift, so
    logical (Spark) and arithmetic (DuckDB mirror) shifts agree — the
    fill bits land above the mask.

    ``match_cols`` adds alignment keys to the candidate join (r8: video
    frame positions — two clips' hashes only compare at the SAME
    frame_index), carried through onto the output rows.

    Persist ``df`` upstream when the fingerprint is expensive — both
    sides of the self-join read it."""
    mc = list(match_cols or [])
    if not 0 <= max_hamming < bits:
        raise ValueError(
            f"max_hamming must be in [0, {bits - 1}] "
            f"(got {max_hamming}: {max_hamming + 1} bands over {bits} bits)"
        )
    nb = max_hamming + 1
    width = bits // nb

    def _band_val(b: int) -> Column:
        shifted = F.shiftrightunsigned(F.col(hash_col), b * width)
        if width >= 64:  # single band (max_hamming=0): the hash IS the key
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    band_keys = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_val(b).alias("val"))
            for b in range(nb)
        ]
    )
    banded = df.select(
        F.col(id_col).alias("id"), *mc, F.col(hash_col).alias("_h"),
        F.explode(band_keys).alias("bk"),
    ).select(
        "id", *mc, "_h", F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )
    join_cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.id") < F.col("b.id"))
    )
    for c in mc:
        join_cond = join_cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), join_cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(c) for c in mc],
            F.col("a._h").alias("_sa"),
            F.col("b._h").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b", *mc])
    )
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        cand.select("id_a", "id_b", *mc, ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b", *mc)
    )


def sql_hash_neardup_pairs(
    source_sql: str,
    bits: int = 64,
    max_hamming: int = 3,
    match_cols: list[str] | None = None,
) -> str:
    """DuckDB mirror of :func:`hash_neardup_pairs`. ``source_sql`` must
    select ``(id, h)`` plus any ``match_cols``; the banding/verify
    arithmetic is shared with the simhash mirror (arithmetic-shift fill
    masks off identically)."""
    mc = list(match_cols or [])
    nb = max_hamming + 1
    width = bits // nb
    val_sql = (
        f"(h >> (b.band * {width}))"
        if width >= 64
        else f"(h >> (b.band * {width})) & {(1 << width) - 1}"
    )
    mc_sel = "".join(f", {c}" for c in mc)
    mc_pairs = "".join(f", a.{c} AS {c}" for c in mc)
    mc_cond = "".join(f" AND a.{c} = b.{c}" for c in mc)
    mc_out = "".join(f", {c}" for c in mc)
    return f"""
WITH fp AS MATERIALIZED ({source_sql}),
banded AS MATERIALIZED (
  SELECT id{mc_sel}, h, b.band AS band, {val_sql} AS val
  FROM fp, (SELECT unnest(range(0, {nb})) AS band) b
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b{mc_pairs}, a.h AS sa, b.h AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.val = b.val AND a.id < b.id{mc_cond}
)
SELECT id_a, id_b{mc_out}, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= {max_hamming}
ORDER BY id_a, id_b{mc_out}
""".strip()


def sql_simhash_neardup_pairs(
    max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    # the fingerprint CTE is simhash-specific; the banding/verify tail
    # delegates to the shared kernel mirror, exactly as the Spark side
    # delegates to hash_neardup_pairs (one banding arithmetic, one place)
    toks = sql_tokens_exact(text_col)
    th = f"list_transform({toks}, t -> {sql_sha_bigint60('t')})"
    source = f"""
WITH hashed AS MATERIALIZED (
  SELECT {id_col} AS id, {th} AS th FROM documents
)
SELECT id, {_sql_simhash_from_th('th')} AS h FROM hashed
""".strip()
    return sql_hash_neardup_pairs(source, bits=SIMHASH_BITS, max_hamming=max_hamming)


def sql_simhash_fingerprints(id_col: str = "doc_id", text_col: str = "text") -> str:
    toks = sql_tokens_exact(text_col)
    th = f"list_transform({toks}, t -> {sql_sha_bigint60('t')})"
    return f"""
WITH hashed AS MATERIALIZED (
  SELECT {id_col}, {th} AS th FROM documents
)
SELECT {id_col}, {_sql_simhash_from_th('th')} AS simhash
FROM hashed ORDER BY {id_col}
""".strip()


# ---------------------------------------------------------------------------
# Near-dup connected components (pair list → duplicate clusters)
# ---------------------------------------------------------------------------


def union_find_components(edges: list[tuple]) -> list[tuple]:
    """Pure union-find with path compression over an edge list; component
    label = min reachable id (union by min root). Returns sorted
    (id, component) for every vertex in an edge — the driver-tier kernel
    of :func:`neardup_components`, kept pure so property tests can fuzz
    it against a reachability reference without a SparkSession."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    vertices = {v for e in edges for v in e}
    return sorted((v, find(v)) for v in vertices)


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_edge_limit: int = 200_000,
) -> DataFrame:
    """Connected components over a near-dup pair list — the stage that turns
    pairwise matches into DUPLICATE CLUSTERS with a canonical representative
    (component = min id), so a pipeline can keep one doc per cluster.

    Min-label propagation: label(v) starts as v; each round every vertex
    takes the min of its own and its neighbors' labels; converged when no
    label changes. One equi-join shuffle per round, rounds bounded by the
    cluster diameter (near-dup clusters are shallow — a handful of rounds
    in practice, ``max_iter`` caps pathology). ``links._step_checkpoint``
    (reliable when the session has a checkpoint dir, local otherwise)
    truncates the growing lineage each round; the per-round ``count()`` is the
    convergence test — an iterative algorithm needs one action per step
    (this is label propagation without a graph library). Deterministic, so
    the DuckDB oracle (recursive reachability + min) matches exactly.

    Two tiers, one contract (unit-pinned equal): after LSH banding +
    threshold screening the surviving MATCH list is usually tiny relative
    to the corpus, and a multi-round Spark iteration pays seconds of
    scheduling for microseconds of work — so when a bounded limit-probe
    shows at most ``driver_edge_limit`` pairs, the edges collect to the
    driver (≤ limit+1 rows, never unbounded) and a union-find with path
    compression labels them in one pass. Larger graphs take the
    distributed loop. ``driver_edge_limit=0`` forces the iterative tier.

    Output: (id, component) for every vertex that appears in a pair.
    """
    from connapse_spark.operators.links import _step_checkpoint

    sel = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    if driver_edge_limit > 0:
        # probe WITHOUT persist: caching forces full block materialization
        # and costs ~50% extra on the common small-graph path (measured);
        # the rare over-gate graph pays one pair-plan re-evaluation into
        # the persist below instead
        probe = sel.limit(driver_edge_limit + 1).collect()
        if len(probe) <= driver_edge_limit:
            rows = union_find_components([(r["a"], r["b"]) for r in probe])
            id_type = pairs.schema[id_a].dataType.simpleString()
            return pairs.sparkSession.createDataFrame(
                rows, f"id {id_type}, component {id_type}"
            )
    # persist so the union's two branches (and every propagation round's
    # edge joins) share ONE evaluation of the pair plan
    sel = sel.persist()
    edges = (
        sel.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(sel.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = _step_checkpoint(
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        prev_labels = labels
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("_nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["id"] == neighbor_min["src"], "left"
        ).select(
            labels["id"],
            F.least(
                labels["label"], F.coalesce(F.col("_nmin"), labels["label"])
            ).alias("label"),
        )
        # pointer jumping (path doubling): follow the label's OWN label —
        # label'(v) = label(label(v)) — so chains collapse in O(log D)
        # rounds instead of O(D); one extra self-join per round
        lref = stepped.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        labels = _step_checkpoint(
            stepped.join(lref, stepped["label"] == lref["_lid"], "left").select(
                stepped["id"],
                F.least(
                    stepped["label"], F.coalesce(F.col("_llabel"), stepped["label"])
                ).alias("label"),
            )
        )
        # convergence: any vertex whose label still changed this round?
        # (an equi-join between two vertex-sized checkpointed frames —
        # type-agnostic, unlike a label-sum, which is NULL for string ids
        # and would terminate the loop after one round with wrong labels)
        changed = (
            labels.alias("n")
            .join(prev_labels.alias("p"), "id")
            .filter(F.col("n.label") != F.col("p.label"))
            .limit(1)
            .count()
        )
        if changed == 0:
            break
    edges.unpersist()
    sel.unpersist()
    return labels.select("id", F.col("label").alias("component")).orderBy("id")


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram membership vs a held-out blocklist)
# ---------------------------------------------------------------------------


def contamination_check(
    docs: DataFrame,
    blocklist: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_col: str = "s",
    tokens_col: str | None = None,
) -> DataFrame:
    """Screen a corpus against a held-out set: a document is contaminated
    when it shares any n-gram shingle with the blocklist (the standard
    "drop any training doc containing a test-set n-gram" rule).

    Plan: explode the corpus shingles once, left-join them to the
    blocklist (broadcast when it fits — benchmark suites are tiny next to
    a corpus) and count hits per id. explode_outer keeps a shingle-less
    document as one NULL-shingle row, so CLEAN documents keep a row
    (n_hits 0) with no join back onto the ids — a decontamination report
    must list what it kept, not only what it dropped. (explode_outer also
    dodges the inferred size()>0 filter that would re-run tokenize+shingle
    per row through the pushed-down projection — see minhash_banded.)

    Output: (id, n_hits = distinct blocklisted shingles present,
    contaminated flag). ``tokens_col`` (r12 pass fusion): a column already
    holding ``tokens_exact_expr(text_col)`` — shingles derive from it
    instead of re-tokenizing; identical values. Ids must be unique (the
    count is per id)."""
    sh = _text_shingles_sql(text_col, n, tokens_col)
    ex = docs.selectExpr(f"`{id_col}` AS id", f"explode_outer({sh}) AS s")
    bl = blocklist.selectExpr(f"`{shingle_col}` AS bs").distinct()
    return (
        ex.join(F.broadcast(bl), F.expr("s = bs"), "left")
        .groupBy("id")
        .agg(F.expr("count(bs) AS n_hits"))
        .selectExpr("id", "n_hits", "n_hits > 0 AS contaminated")
        .orderBy("id")
    )


def sql_contamination_check(blocklist_sql: str, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> str:
    """Mirror; ``blocklist_sql`` is a SELECT yielding a column ``s``."""
    return f"""
WITH sh AS MATERIALIZED (
  SELECT {id_col} AS id, {sql_shingles(text_col, n)} AS sh FROM documents
),
ex AS (SELECT id, unnest(sh) AS s FROM sh),
bl AS (SELECT DISTINCT s FROM ({blocklist_sql})),
hits AS (
  SELECT id, count(*) AS n_hits FROM ex JOIN bl USING (s) GROUP BY id
)
SELECT sh.id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM sh LEFT JOIN hits h ON sh.id = h.id
ORDER BY sh.id
""".strip()


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup (CCNet / RefinedWeb-style)
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame,
    min_docs: int = 5,
    delimiter: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove lines that recur across >= ``min_docs`` DISTINCT documents —
    the line-wise dedup step of CCNet (Wenzek et al., LREC 2020 §4.1) and
    RefinedWeb (Penedo et al., 2023 §3.4) that strips nav menus, cookie
    banners, and license boilerplate before document-level dedup.

    ``delimiter`` is a LITERAL separator (default newline); the synthetic
    test corpus has no newlines, so the oracle entry parameterizes it with a
    token delimiter — the plan is identical. Whitespace-only segments are
    never counted and never removed.

    Returns (id, clean_text, n_segments, n_removed) — one row per input doc,
    segments re-joined with the same delimiter in original order.

    Scale (100 TB): posexplode is map-side; the segment-frequency aggregate
    is one shuffle on trim(segment) with map-side partial count-distinct;
    the flag join shuffles on the same key (AQE broadcasts the boilerplate
    side when it is small, the common case); reassembly is one shuffle on
    the doc id. No window over the full corpus, no driver collect. Skewed
    ultra-hot lines (empty-ish variants) are pre-filtered by the
    whitespace guard.
    """
    # posexplode_outer + isnotnull: a plain posexplode's inferred size()>0
    # filter re-runs the regex split per row through the pushed-down
    # projection (see minhash_banded); split never yields an empty
    # array, so the null filter only drops the null-text rows plain
    # posexplode dropped anyway
    seg = F.posexplode_outer(
        F.split(F.col(text_col), r"\Q" + delimiter + r"\E", -1)
    ).alias("pos", "seg")
    parts = (
        docs.select(F.col(id_col).alias("id"), seg)
        .filter(F.col("seg").isNotNull())
        .withColumn("k", F.trim("seg"))
    )
    boiler = (
        parts.filter(F.col("k") != "")
        .groupBy("k")
        .agg(F.countDistinct("id").alias("ndocs"))
        .filter(F.col("ndocs") >= F.lit(min_docs))
        .select(F.col("k").alias("bk"))
    )
    flagged = parts.join(boiler, parts["k"] == boiler["bk"], "left").withColumn(
        "rm", F.col("bk").isNotNull()
    )
    packed = F.array_sort(F.collect_list(F.struct("pos", "seg", "rm")))
    return flagged.groupBy("id").agg(
        F.concat_ws(
            delimiter,
            F.transform(F.filter(packed, lambda x: ~x["rm"]), lambda x: x["seg"]),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("rm").cast("long")).alias("n_removed"),
    ).select(F.col("id").alias(id_col), "clean_text", "n_segments", "n_removed")


def sql_line_dedup(
    min_docs: int = 5,
    delimiter: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """Mirror of line_dedup. DuckDB single-quoted strings keep backslashes
    verbatim, so a newline delimiter is spelled chr(10)."""
    assert "'" not in delimiter
    d = "chr(10)" if delimiter == "\n" else f"'{delimiter}'"
    return f"""
WITH parts AS (
  SELECT {id_col} AS id,
         unnest(ls) AS seg,
         generate_subscripts(ls, 1) - 1 AS pos
  FROM (SELECT {id_col}, string_split({text_col}, {d}) AS ls FROM {table})
),
keyed AS (SELECT id, seg, pos, trim(seg) AS k FROM parts),
boiler AS (
  SELECT k AS bk FROM keyed WHERE k <> ''
  GROUP BY k HAVING count(DISTINCT id) >= {min_docs}
),
flagged AS (
  SELECT keyed.*, bk IS NOT NULL AS rm
  FROM keyed LEFT JOIN boiler ON keyed.k = boiler.bk
)
SELECT id AS {id_col},
       coalesce(string_agg(seg, {d} ORDER BY pos) FILTER (WHERE NOT rm), '') AS clean_text,
       count(*) AS n_segments,
       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM flagged GROUP BY id
""".strip()


def _span_grams_from_tokens(toks: Column, n: int) -> Column:
    """n-token span strings over an already-materialized token array
    column (every reference must be cheap — the chained zip_with below
    references it ~2n times). Construction unchanged from the original
    inlined form: n shifted slices zipped with ' ' joins, guarded empty
    for documents shorter than n tokens."""
    n_out = F.size(toks) - F.lit(n - 1)
    gram = F.slice(toks, 1, n_out)
    for j in range(1, n):
        gram = F.zip_with(
            gram,
            F.slice(toks, 1 + j, n_out),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= n, gram).otherwise(F.array().cast("array<string>"))


def dup_span_stats(
    docs: DataFrame,
    n: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicated-span statistics — the corpus-level signal behind exact
    substring deduplication (Lee et al. 2022, arXiv:2107.06499, remove
    repeated ≥50-token spans): for every document, how many of its n-token
    spans occur MORE THAN ONCE anywhere in the corpus (including
    within-document repeats), and what fraction of its spans that is.
    High dup_frac → boilerplate/templated text; the filter/removal
    decision consumes these stats.

    Returns (id, n_grams, n_dup_grams, dup_frac).

    Scale: spans are built in-row (chained shifted zip_with, O(n·len))
    and hashed to 60-bit integers before leaving the row — the shuffle
    carries (id, gh) longs, never span text. One window over gh (the
    corpus-wide occurrence count), one per-doc aggregate: a single
    corpus pass through two keyed exchanges. This is the n-gram-hash
    approximation of the paper's suffix array: equal spans always
    collide (exact recall); 60-bit hash collisions are the only false
    positives.
    """
    from connapse_spark.functions.text import tokens_exact_expr

    toks = tokens_exact_expr(F.col(text_col))
    # materialize the token array as a real column first (r11): the gram
    # construction below references its input ~33x (each shifted slice +
    # every copied n_out subtree), and with the tokenizer inlined those
    # were 33 full re-tokenizations PER ROW inside an interpreted Generate
    # (HOFs evaluate outside codegen's subexpression elimination); column
    # references are cheap attribute reads, and Project-under-Generate is
    # not collapsed, so the tokenizer now runs once per row
    toked = docs.select(F.col(id_col).alias("id"), toks.alias("_ts"))
    # explode_outer + isnotnull: a plain explode's inferred size()>0 filter
    # pushes through the projection and re-runs the whole
    # tokenize+gram+sha chain per row (see minhash_banded)
    pairs = toked.select(
        "id",
        F.explode_outer(
            F.transform(_span_grams_from_tokens(F.col("_ts"), n), _sha_bigint60)
        ).alias("gh"),
    ).filter(F.col("gh").isNotNull())
    # r12 (VERDICT r11 ask #5, guide §2.4): the corpus-wide occurrence
    # count rides a WINDOW over gh instead of [groupBy(gh) + join back].
    # The join form consumed `pairs` twice — two full tokenize+gram+sha
    # corpus chains — and needed two gh exchanges (aggregate + join
    # probe side); the window form is one corpus chain through ONE gh
    # exchange (sort by gh, count over the unbounded frame), then the
    # same per-doc aggregate. count().over(partitionBy(gh)) is exactly
    # the old counts._c, so rows kept by _c > 1 are identical.
    per_doc = (
        pairs.withColumn("_c", F.count(F.lit(1)).over(Window.partitionBy("gh")))
        .filter(F.col("_c") > 1)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0)).alias("n_grams"),
    )
    return base.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        F.when(
            F.col("n_grams") > 0,
            F.coalesce("n_dup_grams", F.lit(0)).cast("double")
            / F.col("n_grams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def remove_dup_spans(
    docs: DataFrame,
    n: int = 16,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring span REMOVAL (r8 — the action half of
    :func:`dup_span_stats`; Lee et al. 2022, arXiv:2107.06499 §4 removes
    every repeated span rather than dropping whole documents): every
    token covered by ANY n-token span occurring ≥ ``min_count`` times
    corpus-wide is dropped, the survivors reassemble IN ORDER. The view
    is token-level (the paper's token-stream view): ``clean_text`` is
    the space-joined survivors — original inter-token whitespace and
    punctuation are not reconstructed, exactly like the tokenized
    training stream the removal protects.

    Returns (id, n_tokens, n_removed, clean_text).

    Scale: spans hash to 60-bit longs in-row (the dup_span_stats
    kernel — the shuffle carries (id, pos, gh) longs, never span text);
    one window over gh selects the duplicated START positions, which
    collapse to one small per-doc array; the coverage mask is then
    in-row (O(len·|dup starts|), and |dup starts| is the per-doc
    duplication amount, not the corpus). Three keyed exchanges total
    (gh window, per-doc collapse, the base re-join), none
    corpus-quadratic."""
    from connapse_spark.functions.text import tokens_exact_expr

    toks = tokens_exact_expr(F.col(text_col))
    # tokenize once per row (r11): the gram construction references its
    # input ~17x, and with the tokenizer inlined that was 17 full
    # re-tokenizations per row in one Project; deriving the gram column
    # from the materialized ``_ts`` column makes each an attribute read
    # (CollapseProject keeps the boundary — ``_ts`` is expensive and
    # multi-referenced)
    base = docs.select(F.col(id_col).alias("id"), toks.alias("_ts")).select(
        "id", "_ts", _span_grams_from_tokens(F.col("_ts"), n).alias("_gs")
    )
    # posexplode_outer + isnotnull: same inferred-filter dodge as
    # dup_span_stats (the gram+sha chain would otherwise run twice per row)
    pos_pairs = base.select(
        "id",
        F.posexplode_outer(F.transform(F.col("_gs"), _sha_bigint60)).alias(
            "pos", "gh"
        ),
    ).filter(F.col("gh").isNotNull())
    # r12 (VERDICT r11 ask #5, guide §2.4): same window-over-gh rewrite as
    # dup_span_stats — [groupBy(gh) + join back] consumed pos_pairs twice
    # (two tokenize+gram+sha corpus chains) through two gh exchanges; the
    # window counts occurrences in ONE pass and one gh exchange.
    # count().over(partitionBy(gh)) equals the old per-gh _c, so the rows
    # surviving _c >= min_count (and hence the collected start sets) are
    # identical; the mask below is order/duplicate-insensitive anyway.
    starts = (
        pos_pairs.withColumn(
            "_c", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("_c") >= F.lit(min_count))
        .groupBy("id")
        .agg(F.collect_list("pos").alias("_ss"))
    )
    joined = base.join(starts, "id", "left").withColumn(
        "_ss", F.coalesce(F.col("_ss"), F.array().cast("array<int>"))
    )
    # Spark's filter lambda index is 0-based (the DuckDB mirror's is
    # 1-based and subtracts 1) — token i survives iff no duplicated span
    # starting at s covers it (s ≤ i ≤ s+n−1)
    kept = F.filter(
        F.col("_ts"),
        lambda t, i: ~F.exists(
            F.col("_ss"), lambda s: (i >= s) & (i <= s + F.lit(n - 1))
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.size("_ts").cast("long").alias("n_tokens"),
        (F.size("_ts") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def sql_remove_dup_spans(
    n: int = 16,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """Mirror of :func:`remove_dup_spans`: same span hashes, same
    duplicated-start selection, same coverage mask (DuckDB's lambda
    index is 1-based, hence the ``i - 1``)."""
    toks = sql_tokens_exact(text_col)
    gh = sql_sha_bigint60(f"array_to_string(ts[i + 1:i + {n}], ' ')")
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS ts FROM {table}
),
pairs AS (
  SELECT id, i AS pos, {gh} AS gh
  FROM (SELECT id, ts, unnest(range(0, len(ts) - {n} + 1)) AS i FROM base WHERE len(ts) >= {n})
),
dup AS (SELECT gh FROM (SELECT gh, count(*) AS c FROM pairs GROUP BY gh) WHERE c >= {min_count}),
starts AS (
  SELECT id, list(pos) AS ss FROM pairs JOIN dup USING (gh) GROUP BY id
),
joined AS (
  SELECT b.id, ts, coalesce(ss, []) AS ss FROM base b LEFT JOIN starts s ON b.id = s.id
),
outt AS (
  SELECT id, ts,
         list_filter(ts, (t, i) -> len(list_filter(ss,
           s -> (i - 1) >= s AND (i - 1) <= s + {n - 1})) = 0) AS kept
  FROM joined
)
SELECT id AS {id_col},
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(len(ts) - len(kept) AS BIGINT) AS n_removed,
       coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM outt
""".strip()


def sql_dup_span_stats(
    n: int = 16, id_col: str = "doc_id", text_col: str = "text", table: str = "documents"
) -> str:
    """Mirror of dup_span_stats: same span construction (array slices
    joined by spaces), same 60-bit hash, same >1 duplicate rule."""
    toks = sql_tokens_exact(text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS ts FROM {table}
),
pairs AS (
  SELECT id, {sql_sha_bigint60("array_to_string(ts[i + 1:i + " + str(n) + "], ' ')")} AS gh
  FROM (SELECT id, ts, unnest(range(0, len(ts) - {n} + 1)) AS i FROM base WHERE len(ts) >= {n})
),
dup AS (SELECT gh FROM (SELECT gh, count(*) AS c FROM pairs GROUP BY gh) WHERE c > 1),
per_doc AS (
  SELECT id, count(*) AS n_dup_grams FROM pairs JOIN dup USING (gh) GROUP BY id
)
SELECT b.id AS {id_col},
       CAST(greatest(len(ts) - {n} + 1, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CASE WHEN greatest(len(ts) - {n} + 1, 0) > 0
            THEN CAST(coalesce(n_dup_grams, 0) AS DOUBLE) / CAST(greatest(len(ts) - {n} + 1, 0) AS DOUBLE)
            ELSE 0.0 END AS dup_frac
FROM base b LEFT JOIN per_doc p ON b.id = p.id
""".strip()


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (approximate-membership screen)
# ---------------------------------------------------------------------------


def bloom_params(n_items: int, target_fpp: float = 1e-4) -> tuple[int, int]:
    """Size a Bloom filter from the blocklist cardinality: the textbook
    m = -n·ln(p)/ln(2)², j = (m/n)·ln(2) (Bloom, CACM 1970), with m rounded
    UP to a power of two so position masking stays cheap. Derived-knob
    policy like ivf_n_lists / semdedup_n_clusters — a fixed m is a silent
    scale bug: 100× the blocklist at constant m drives the false-positive
    rate toward 1 and the screen quietly drops the whole corpus."""
    import math

    n_items = max(1, n_items)
    m = max(1024, int(-n_items * math.log(target_fpp) / (math.log(2) ** 2)))
    m_bits = 1 << (m - 1).bit_length()
    j = max(1, round(m_bits / n_items * math.log(2)))
    return m_bits, min(j, 16)


def _bloom_hashes(s: Column) -> tuple[Column, Column]:
    """The two base hashes of double hashing (Kirsch & Mitzenmacher, ESA
    2006): pos_i = (h1 + i·(2·h2+1)) mod m. 2·h2+1 keeps the stride odd so
    the probe sequence cannot collapse; both hashes are the repo-wide
    sha-derived family, identical in the DuckDB mirror.

    Returned as separate columns that callers MUST materialize before the
    per-i transform: a lambda-captured sha256 is re-evaluated per element
    (the shingles_expr pitfall), turning j probes into 2j sha256 calls."""
    return _sha_bigint(s), _sha_bigint60(s) % F.lit(HASH_MOD)


def _bloom_positions(h1: Column, h2: Column, j: int, m_bits: int) -> Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(j - 1)),
        lambda i: (h1 + i * (h2 * 2 + 1)) % m_bits,
    )


def bloom_build(
    blocklist: DataFrame, m_bits: int, j: int, shingle_col: str = "s"
) -> DataFrame:
    """ONE-row bitmap: array<bigint> of m_bits/32 words, 32 bits per word
    (kept positive so >>/& mirror exactly in DuckDB — a 64-bit word's sign
    bit would make arithmetic-shift semantics engine-specific).

    Scale: the bitmap is CONSTANT-size regardless of blocklist cardinality
    — the whole point vs the exact broadcast semi-join
    (contamination_check), whose broadcast grows with the blocklist. The
    one-row array form holds to ~2^27 bits (16 MiB in a row); past that a
    production deployment shards the bitmap into a broadcast variable or
    leans on Spark's runtime Bloom join filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) — the probe-side
    plan below is unchanged either way."""
    n_words = m_bits // 32
    h1, h2 = _bloom_hashes(F.col("s"))
    pos = (
        blocklist.select(F.col(shingle_col).alias("s"))
        .distinct()
        .select(h1.alias("h1"), h2.alias("h2"))
        .select(
            F.explode(
                _bloom_positions(F.col("h1"), F.col("h2"), j, m_bits)
            ).alias("p")
        )
        .distinct()
        .select(
            (F.col("p") / 32).cast("bigint").alias("w"),
            (F.col("p") % 32).cast("int").alias("b"),
        )
        .distinct()
        # distinct (w, b) pairs → plain SUM of the bit weights == bitwise OR
        .groupBy("w")
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), b)")).alias("bits"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("_wm")
        )
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda w: F.coalesce(
            F.element_at(F.col("_wm"), w.cast("bigint")), F.lit(0).cast("bigint")
        ),
    )
    return pos.select(dense.alias("_bloom"))


def bloom_contamination_check(
    docs: DataFrame,
    blocklist: DataFrame,
    n: int = 3,
    m_bits: int = 8192,
    j: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_col: str = "s",
) -> DataFrame:
    """Approximate decontamination screen: like contamination_check but the
    membership test is a Bloom filter, so the probe side never joins
    against the blocklist — each shingle costs j hash-and-mask probes into
    a broadcast constant-size bitmap, map-side only.

    One-sided error: n_hits >= the exact screen's count (no false
    negatives — every truly blocklisted shingle sets all its bits); the
    false-positive overhang is bounded by bloom_params' target. The exact
    screen stays the verification kernel; this is what you run at 100 TB
    where the blocklist itself is huge.

    Output: (id, n_hits = distinct shingles whose j bits are all set,
    contaminated flag) — same shape as contamination_check.

    Plan: blocklist → bitmap is one tiny aggregation; the corpus side is
    explode → map-side fold over the broadcast row → groupBy(id) count.
    One shuffle (the per-doc count), zero joins against the blocklist."""
    bloom = bloom_build(blocklist, m_bits, j, shingle_col)
    sh = docs.select(
        F.col(id_col).alias("id"), shingles_expr(text_col, n).alias("sh")
    )
    # explode_outer + isnotnull: inferred-filter dodge (see minhash_banded)
    ex = (
        sh.select("id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )

    def _bit_set(p: Column) -> Column:
        # (word >> (p%32)) & 1 without a column-shift builtin: words hold 32
        # bits so word/2^bit is an EXACT double division (both operands are
        # integers < 2^32 and the divisor is a power of two) — same integer
        # result as the DuckDB mirror's (word >> bit) & 1.
        word = F.element_at(F.col("_bloom"), (p / 32).cast("int") + 1)
        mask = F.pow(F.lit(2.0), (p % 32).cast("double"))
        return (F.floor(word / mask).cast("bigint") % 2) == 1

    h1, h2 = _bloom_hashes(F.col("s"))
    probe = (
        ex.withColumn("h1", h1)
        .withColumn("h2", h2)
        .crossJoin(F.broadcast(bloom))
        .withColumn(
            "_hit",
            F.forall(
                _bloom_positions(F.col("h1"), F.col("h2"), j, m_bits), _bit_set
            ),
        )
    )
    hits = (
        probe.filter(F.col("_hit"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        sh.select("id")
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("id")
    )


def sql_bloom_contamination_check(
    blocklist_sql: str,
    n: int = 3,
    m_bits: int = 8192,
    j: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Mirror of :func:`bloom_contamination_check`: membership in the Bloom
    filter == "every probe position was set by SOME blocklist shingle",
    which the mirror states directly as a positional set-join — no bitmap
    needed, because a bit is set iff its position is in the blocklist's
    position set. Same integer hash arithmetic, so parity is exact
    including the false positives."""
    h1 = sql_sha_bigint("s")
    h2 = f"({sql_sha_bigint60('s')} % {HASH_MOD})"
    probe = f"({h1} + i * (2 * {h2} + 1)) % {m_bits}"
    return f"""
WITH bl AS (SELECT DISTINCT s FROM ({blocklist_sql})),
pos AS (
  SELECT DISTINCT {probe} AS p
  FROM bl CROSS JOIN (SELECT unnest(range(0, {j})) AS i) ii
),
sh AS MATERIALIZED (
  SELECT {id_col} AS id, {sql_shingles(text_col, n)} AS sh FROM documents
),
ex AS (SELECT id, unnest(sh) AS s FROM sh),
exp AS (
  SELECT id, s, {probe} AS p
  FROM ex CROSS JOIN (SELECT unnest(range(0, {j})) AS i) ii
),
shhit AS (
  SELECT id, s, bool_and(pos.p IS NOT NULL) AS hit
  FROM exp LEFT JOIN pos ON exp.p = pos.p
  GROUP BY id, s
),
hits AS (
  SELECT id, count(*) AS n_hits FROM shhit WHERE hit GROUP BY id
)
SELECT sh.id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM sh LEFT JOIN hits h ON sh.id = h.id
ORDER BY sh.id
""".strip()


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) — insertion-stable dedup segmentation
# ---------------------------------------------------------------------------


def _cdc_gear() -> list[int]:
    """256-entry gear table, sha-derived like every other hash family here
    (deterministic, no RNG, identical literal in the SQL mirror)."""
    import hashlib

    return [
        int(hashlib.sha256(f"gear:{i}".encode()).hexdigest()[:8], 16) % HASH_MOD
        for i in range(256)
    ]


def cdc_chunks(
    docs: DataFrame,
    min_len: int = 32,
    avg_mod: int = 64,
    max_len: int = 192,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the Gear/FastCDC family — Xia et al.,
    USENIX ATC'16): a rolling gear hash over the character stream cuts a
    boundary wherever ``hash % avg_mod == 0`` (once ``min_len`` chars have
    accumulated; ``max_len`` force-cuts). Because boundaries depend only on
    LOCAL content, an insertion near the start of a document shifts only
    the chunks it touches — the rest keep their content hashes, which is
    what makes CDC the storage-dedup segmentation (vs fixed-size chunks,
    where one inserted byte re-keys every downstream chunk).

    Output: (id, chunk_idx, start, length, chunk_sha) — join chunk_sha
    across snapshots/documents for shifted-content dedup that exact_dedup
    and the fixed-window shingles both miss.

    The hash must FORGET: h = (h·2 + gear[c]) mod 2^32, boundary when the
    TOP 6 bits are zero (h < 2^26 ⇔ probability 1/64 per position). A
    character k steps back only reaches bits ≥ k, so the top-bit test sees
    a ~26-32 char window — that bounded window is what makes boundaries
    re-synchronize after an edit (with full-history hashing, e.g. mod-P
    multiplication, chunks never re-align and CDC degrades to fixed-size;
    pinned by test_cdc_chunks_insertion_stable). Same construction as the
    Gear hash's shift-out, with the word width made explicit so the DuckDB
    mirror is exact integer math.

    Determinism: codepoint stream (``% 256`` into the gear table — the
    text twin of byte-oriented CDC), explicit mod-2^32 arithmetic, left
    fold. The DuckDB mirror walks the identical state machine, so
    boundaries are value-hash checkable.

    Scale (100 TB): per-document fold, map-side only — no shuffle, O(len)
    per row like any scan projection; the cross-snapshot dedup join after
    it is one shuffle on chunk_sha."""
    gear = _cdc_gear()
    garr = F.array(*[F.lit(g) for g in gear])
    text = F.col(text_col)
    codes = F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(text.substr(i, F.lit(1))),
    )
    zl = F.lit(0).cast("bigint")
    acc0 = F.struct(
        zl.alias("h"),
        zl.alias("cur"),
        zl.alias("pos"),
        F.array().cast("array<bigint>").alias("b"),
    )

    thresh = (1 << 32) // avg_mod

    def step(acc, c):
        g = F.element_at(garr, (c % 256 + 1).cast("int"))
        h2 = (acc["h"] * 2 + g) % F.lit(1 << 32).cast("bigint")
        cur2 = acc["cur"] + 1
        pos2 = acc["pos"] + 1
        cut = ((cur2 >= min_len) & (h2 < thresh)) | (cur2 >= max_len)
        return F.struct(
            F.when(cut, zl).otherwise(h2).alias("h"),
            F.when(cut, zl).otherwise(cur2).alias("cur"),
            pos2.alias("pos"),
            F.when(cut, F.concat(acc["b"], F.array(pos2)))
            .otherwise(acc["b"])
            .alias("b"),
        )

    bounds = F.aggregate(codes, acc0, step)["b"]
    starts = F.concat(F.array(zl), bounds)
    ends = F.concat(bounds, F.array(F.length(text).cast("bigint")))
    segs = F.filter(
        F.zip_with(
            starts, ends, lambda s, e: F.struct(s.alias("start"), e.alias("end"))
        ),
        lambda p: p["start"] < p["end"],
    )
    # posexplode_outer + isnotnull: a plain posexplode's inferred size()>0
    # filter would re-run the ENTIRE rolling-hash boundary fold per row
    # through the pushed-down projection (see minhash_banded)
    exploded = docs.select(
        F.col(id_col).alias("id"), text.alias("_t"), F.posexplode_outer(segs)
    ).filter(F.col("pos").isNotNull())
    chunk = F.col("_t").substr(
        (F.col("col.start") + 1).cast("int"), (F.col("col.end") - F.col("col.start")).cast("int")
    )
    return exploded.select(
        F.col("id"),
        (F.col("pos") + 1).cast("bigint").alias("chunk_idx"),
        F.col("col.start").alias("start"),
        (F.col("col.end") - F.col("col.start")).alias("length"),
        F.sha2(chunk, 256).alias("chunk_sha"),
    ).orderBy("id", "chunk_idx")


def sql_cdc_chunks(
    min_len: int = 32,
    avg_mod: int = 64,
    max_len: int = 192,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """Mirror: a RECURSIVE CTE walks every document's character stream one
    position per iteration, carrying (h, cur, boundary-CSV) — the same
    state machine as the Spark fold. DuckDB 1.0's lambda evaluator cannot
    run this fold (list- and even scalar-typed struct-accumulator fields
    reset between list_reduce iterations on longer inputs — verified
    empirically), so the mirror uses the engine's recursive iteration
    instead, like the connected-components mirror. Iterations = max doc
    length; total work O(total chars), same as the fold."""
    gear = "[" + ", ".join(str(g) for g in _cdc_gear()) + "]"
    z = "0::BIGINT"
    nxt = f"({gear})[(c.cs[w.pos + 1] % 256 + 1)::INT]"
    thresh = (1 << 32) // avg_mod
    h2 = f"((w.h * 2 + {nxt}) % {1 << 32})"
    cut = (
        f"((w.cur + 1 >= {min_len} AND {h2} < {thresh}) "
        f"OR w.cur + 1 >= {max_len})"
    )
    return f"""
WITH RECURSIVE codes AS (
  SELECT {id_col} AS id, {text_col} AS t, CAST(length({text_col}) AS BIGINT) AS n,
         list_transform(range(1, length({text_col}) + 1),
                        i -> ord(substr({text_col}, i, 1))) AS cs
  FROM {table}
),
walk AS (
  SELECT id, 0::BIGINT AS pos, 0::BIGINT AS h, 0::BIGINT AS cur, '' AS b FROM codes
  UNION ALL
  SELECT w.id, w.pos + 1,
         CASE WHEN {cut} THEN 0::BIGINT ELSE {h2} END,
         CASE WHEN {cut} THEN 0::BIGINT ELSE w.cur + 1 END,
         CASE WHEN {cut} THEN w.b || ',' || CAST(w.pos + 1 AS VARCHAR) ELSE w.b END
  FROM walk w JOIN codes c ON w.id = c.id
  WHERE w.pos < c.n
),
st AS (
  SELECT c.id, c.t, c.n,
         list_transform(list_filter(string_split(w.b, ','), s -> s != ''),
                        s -> CAST(s AS BIGINT)) AS b
  FROM walk w JOIN codes c ON w.id = c.id AND w.pos = c.n
),
segs AS (
  SELECT id, t,
         list_filter(
           list_zip(list_prepend({z}, b), list_append(b, n)),
           p -> p[1] < p[2]) AS segs
  FROM st
),
ex AS (
  SELECT id, t, i AS chunk_idx, segs[i][1] AS start, segs[i][2] - segs[i][1] AS length
  FROM (SELECT id, t, segs, unnest(range(1, len(segs) + 1)) AS i FROM segs)
)
SELECT id, CAST(chunk_idx AS BIGINT) AS chunk_idx, start, length,
       sha256(substr(t, (start + 1)::INT, length::INT)) AS chunk_sha
FROM ex ORDER BY id, chunk_idx
""".strip()


def cdc_chunks_fast(
    docs: DataFrame,
    min_len: int = 32,
    avg_mod: int = 64,
    max_len: int = 192,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Arrow-batched production tier of :func:`cdc_chunks` — identical
    state machine, run as a per-document Python loop inside mapInPandas
    instead of an interpreted Catalyst fold (Spark's higher-order-function
    lambdas execute per element on the interpreted path; at sf0.1 the
    column tier measures ~5× the scan cost, this tier runs at scan speed).
    Same two-tier pattern as the chunkers: the column tier stays the
    DuckDB-oracle kernel, this tier is unit-pinned bit-equal to it."""
    import hashlib

    import pandas as pd

    gear = _cdc_gear()
    W = 1 << 32
    thresh = W // avg_mod

    def run(batches):
        for pdf in batches:
            out_id, out_idx, out_start, out_len, out_sha = [], [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                text = text or ""
                h = cur = 0
                b = []
                for pos, ch in enumerate(text, 1):
                    h = (h * 2 + gear[ord(ch) % 256]) % W
                    cur += 1
                    if (cur >= min_len and h < thresh) or cur >= max_len:
                        b.append(pos)
                        h = cur = 0
                starts = [0] + b
                ends = b + [len(text)]
                idx = 0
                for s, e in zip(starts, ends):
                    if s < e:
                        idx += 1
                        out_id.append(did)
                        out_idx.append(idx)
                        out_start.append(s)
                        out_len.append(e - s)
                        out_sha.append(
                            hashlib.sha256(text[s:e].encode("utf-8")).hexdigest()
                        )
            yield pd.DataFrame(
                {
                    "id": out_id,
                    "chunk_idx": out_idx,
                    "start": out_start,
                    "length": out_len,
                    "chunk_sha": out_sha,
                }
            )

    schema = "id long, chunk_idx long, start long, length long, chunk_sha string"
    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(run, schema)


def incremental_neardup_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup: screen a NEW batch against a persisted corpus
    index (minhash_banded output) WITHOUT touching the historical
    documents — the production dedup regime, where today's crawl dump is
    checked against years of corpus and re-hashing the corpus per batch
    would dwarf the batch itself (the dedup-index twin of ivf_index_upsert's
    no-refit contract).

    Plan: signature+banding over the batch only, then a band-key join
    against the index — with the index written partitioned by ``band``,
    the probe prunes at the layout level. Index growth = append the
    batch's own banded rows after screening.

    Output: (new_id, old_id, est_jaccard) for batch-vs-corpus candidates
    agreeing on ≥ threshold of signature components. Batch-internal pairs
    come from minhash_lsh_pairs over the batch (tiny) — run both."""
    probe = minhash_banded(new_docs, n, num_hashes, bands, id_col, text_col)
    p, ix = probe.alias("p"), index.alias("ix")
    est = spark_sql_minhash_estimate("sig_a", "sig_b", num_hashes)
    return (
        p.join(ix, F.expr("p.band = ix.band AND p.key = ix.key AND p.id != ix.id"))
        .selectExpr("p.id AS new_id", "ix.id AS old_id", "p.sig AS sig_a", "ix.sig AS sig_b")
        .dropDuplicates(["new_id", "old_id"])
        .selectExpr("new_id", "old_id", f"{est} AS est_jaccard")
        .filter(f"est_jaccard >= {spark_sql_literal(threshold)}")
        .orderBy("new_id", "old_id")
    )


def sql_incremental_neardup(
    threshold: float = 0.4,
    split_mod: int = 5,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> str:
    """Mirror with the entry's split: corpus = doc_id % split_mod != 0,
    batch = the rest; identical signature/band arithmetic."""
    rows_per_band = num_hashes // bands
    mins = ", ".join(
        f"min((x * {2 * i + 1} + {i * i + 7}) % {HASH_MOD})" for i in range(num_hashes)
    )
    band_key = (
        f"array_to_string(list_transform(list_slice(sig, b.band * {rows_per_band} + 1, "
        f"b.band * {rows_per_band} + {rows_per_band}), v -> CAST(v AS VARCHAR)), ',')"
    )
    return f"""
WITH ex AS MATERIALIZED (
  SELECT id, {sql_sha_bigint('s')} AS x
  FROM (SELECT doc_id AS id, unnest({sql_shingles("text", n)}) AS s FROM documents)
),
sig AS MATERIALIZED (SELECT id, [{mins}] AS sig FROM ex GROUP BY id),
banded AS MATERIALIZED (
  SELECT id, sig, b.band AS band, {band_key} AS key
  FROM sig, (SELECT unnest(range(0, {bands})) AS band) b
),
probe AS (SELECT * FROM banded WHERE id % {split_mod} = 0),
ix AS (SELECT * FROM banded WHERE id % {split_mod} != 0),
cand AS (
  SELECT DISTINCT p.id AS new_id, ix.id AS old_id, p.sig AS sig_a, ix.sig AS sig_b
  FROM probe p JOIN ix ON p.band = ix.band AND p.key = ix.key AND p.id != ix.id
)
SELECT new_id, old_id,
       len(list_filter(list_transform(range(1, {num_hashes} + 1), i -> sig_a[i] = sig_b[i]), e -> e)) / {float(num_hashes)!r} AS est_jaccard
FROM cand
WHERE len(list_filter(list_transform(range(1, {num_hashes} + 1), i -> sig_a[i] = sig_b[i]), e -> e)) / {float(num_hashes)!r} >= {threshold!r}
ORDER BY new_id, old_id
""".strip()
