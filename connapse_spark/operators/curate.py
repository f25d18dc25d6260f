"""End-to-end corpus curation: one verdict per document from the dedup,
quality and decontamination stages — the single call a training-data team
actually runs (the batch analogue of the reference's multi-stage ingestion
pipeline, IngestionPipeline.cs:1-120, recast as corpus curation).

Stage order follows the published curation recipes (RefinedWeb, Penedo et
al. 2023 §3; Gopher/MassiveText, Rae et al. 2021 §A1.1): exact dedup →
fuzzy dedup → benchmark decontamination → quality heuristics. The emitted
``reason`` uses that same precedence, so per-stage drop counts read
straight off a groupBy(reason).

Scale (100 TB): curate() is ONE per-document pass, not a stack of the
four stage operators. A projection computes (id, sha256, tokens); the
Gopher stats, keep flag and shingle array derive from that one token
array; one explode of the shingles feeds both the MinHash hashes and a
left broadcast join to the (small, distinct) blocklist; one groupBy(id)
yields the signature and the contamination count. The near-dup join, the
exact-dup window and the final sort run on that per-document table (id,
content hash, keep flag, k-long signature, two counts) — no corpus-sized
shuffle beyond the per-document aggregate. The executed plan reads the
corpus twice: the per-document table's two consumers (verdict, banding)
prune it to different columns, so their exchanges are not reused; each
read tokenizes a document once. Every stage's math is the same Spark-SQL
text as its standalone operator (dedup.spark_sql_*,
textstats.spark_sql_gopher_*), so the verdicts equal the composed stage
operators'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from connapse_spark.functions.text import spark_sql_tokens_exact
from connapse_spark.operators import dedup, textstats

# near-dup stage: MinHash over 3-gram shingles, k=32 hashes in 8 bands
# (minhash_lsh_pairs' defaults)
MINHASH_N, MINHASH_K, MINHASH_BANDS = 3, 32, 8


def curate(
    docs: DataFrame,
    blocklist: DataFrame,
    neardup_threshold: float = 0.4,
    contam_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    classifier_model: dict | None = None,
    min_logit_q: int = 0,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, kept, reason) for every document; ``id_col`` must be unique
    (the document primary key — the per-document table groups by it).

    ``tokens_col`` (r12 — dataset_card pass fusion): a column on ``docs``
    already holding ``tokens_exact_expr(text_col)``, read instead of
    tokenizing; values are identical either way.

    reason ∈ {exact_duplicate, near_duplicate, contaminated, low_quality,
    model_low_quality, kept}, first matching stage wins:

    * exact_duplicate — not the lowest-id member of its sha256 group;
    * near_duplicate — appears as the HIGHER id of a MinHash-LSH pair at
      ``neardup_threshold`` (greedy keep-lowest; transitive chains collapse
      toward the lowest id, same convention as neardup_components' roots);
    * contaminated — shares a ``contam_n``-gram with the blocklist;
    * low_quality — fails any Gopher-style quality rule;
    * model_low_quality (only when ``classifier_model`` is passed — r9) —
      survives every heuristic stage but scores below ``min_logit_q``
      micro-logits under the TRAINED classifier
      (classifier.quality_classifier_scores), the DCLM/CCNet model-filter
      stage after the rule-based gates. Its plan adds one broadcast join
      + one id-keyed sum — nothing corpus-quadratic.
    """
    toks = (
        f"`{tokens_col}`" if tokens_col is not None
        else spark_sql_tokens_exact(f"`{text_col}`")
    )
    shingles = [f"{dedup.spark_sql_shingles('toks', MINHASH_N)} AS sh"]
    if contam_n == MINHASH_N:
        grams, minhash_gram, contam_gram = "sh", "TRUE", "TRUE"
    else:
        # the blocklist n-grams are another shingle set: explode both, told
        # apart by position (the MinHash shingles come first)
        shingles.append(f"{dedup.spark_sql_shingles('toks', contam_n)} AS ch")
        grams, minhash_gram, contam_gram = "concat(sh, ch)", "pos < n_sh", "pos >= n_sh"
    per_doc = (
        docs.selectExpr(
            f"`{id_col}` AS id", f"sha2(`{text_col}`, 256) AS h", f"{toks} AS toks"
        )
        .selectExpr("id", "h", *textstats.spark_sql_gopher_stats("toks"), *shingles)
        .selectExpr(
            "id", "h", f"{textstats.spark_sql_gopher_rules()['keep']} AS keep",
            "size(sh) AS n_sh", f"{grams} AS grams",
        )
        # explode_outer: a shingle-less document keeps one NULL row, so it
        # still gets a per-document row, with n_x 0 (never banded) and
        # n_hits 0
        .selectExpr("id", "h", "keep", "n_sh", "posexplode_outer(grams) AS (pos, g)")
        .selectExpr(
            "id", "h", "keep",
            f"CASE WHEN {minhash_gram} THEN {dedup.spark_sql_sha_bigint('g')} END AS x",
            f"CASE WHEN {contam_gram} THEN g END AS cg",
        )
        .join(F.broadcast(blocklist.selectExpr("s AS bs").distinct()), F.expr("cg = bs"), "left")
        # keyed by id alone (h and keep ride along as any_value): the
        # table then arrives hash-partitioned on id, which the near-dup
        # join reuses instead of shuffling the verdict side again
        .groupBy("id")
        .agg(
            F.expr("any_value(h) AS h"),
            F.expr("any_value(keep) AS keep"),
            F.expr(f"{dedup.spark_sql_minhash_signature('x', MINHASH_K)} AS sig"),
            F.expr("count(x) AS n_x"),
            F.expr("count(bs) AS n_hits"),
        )
    )
    near = (
        dedup.band_pairs(
            dedup.band_signatures(per_doc.filter("n_x > 0"), MINHASH_K, MINHASH_BANDS),
            neardup_threshold, MINHASH_K,
        )
        .selectExpr("id_b AS id", "TRUE AS near_dup")
        .distinct()
    )
    verdict = per_doc.join(near, "id", "left")
    arms = [
        f"WHEN {dedup.spark_sql_dup_rank('h', 'id')} > 1 THEN 'exact_duplicate'",
        "WHEN coalesce(near_dup, FALSE) THEN 'near_duplicate'",
        "WHEN n_hits > 0 THEN 'contaminated'",
        "WHEN NOT keep THEN 'low_quality'",
    ]
    if classifier_model is not None:
        from connapse_spark.operators import classifier

        mq = classifier.quality_classifier_scores(
            docs, model=classifier_model, id_col=id_col, text_col=text_col
        ).selectExpr(f"`{id_col}` AS id", "logit_q")
        verdict = verdict.join(mq, "id")
        arms.append(f"WHEN logit_q < {int(min_logit_q)} THEN 'model_low_quality'")
    return (
        verdict.selectExpr("id", f"CASE {' '.join(arms)} ELSE 'kept' END AS reason")
        .selectExpr("id", "reason = 'kept' AS kept", "reason")
        .orderBy("id")
    )


def sql_curate(
    blocklist_sql: str,
    neardup_threshold: float = 0.4,
    contam_n: int = 3,
    id_col: str = "doc_id",
    classifier_model: dict | None = None,
    min_logit_q: int = 0,
) -> str:
    """Mirror: wraps the component mirrors as subqueries (DuckDB allows a
    CTE-prefixed statement inside parentheses), then applies the same
    precedence CASE; the optional trained-classifier stage joins the
    sql_quality_classifier mirror and adds its WHEN arm."""
    mh = dedup.sql_minhash_lsh_pairs(threshold=neardup_threshold)
    ct = dedup.sql_contamination_check(blocklist_sql, n=contam_n, id_col=id_col)
    gq = textstats.sql_gopher_filter(id_col=id_col)
    mq_cte, mq_join, mq_arm = "", "", ""
    if classifier_model is not None:
        from connapse_spark.operators import classifier

        mq = classifier.sql_quality_classifier(model=classifier_model, id_col=id_col)
        mq_cte = f",\nmq AS (SELECT {id_col} AS id, logit_q FROM ({mq}))"
        mq_join = "\nJOIN mq ON ex.id = mq.id"
        mq_arm = f"\n            WHEN mq.logit_q < {int(min_logit_q)} THEN 'model_low_quality'"
    case = f"""CASE WHEN ex.exact_dup THEN 'exact_duplicate'
            WHEN coalesce(nd.near_dup, false) THEN 'near_duplicate'
            WHEN ct.contaminated THEN 'contaminated'
            WHEN NOT gq.quality_ok THEN 'low_quality'{mq_arm}
            ELSE 'kept' END"""
    return f"""
WITH ex AS (
  SELECT {id_col} AS id,
         row_number() OVER (PARTITION BY content_hash ORDER BY {id_col}) > 1 AS exact_dup
  FROM (SELECT {id_col}, sha256(text) AS content_hash FROM documents)
),
nd AS (SELECT DISTINCT id_b AS id, true AS near_dup FROM ({mh})),
ct AS (SELECT id, contaminated FROM ({ct})),
gq AS (SELECT {id_col} AS id, keep AS quality_ok FROM ({gq})){mq_cte}
SELECT ex.id,
       ({case}) = 'kept' AS kept,
       {case} AS reason
FROM ex
LEFT JOIN nd ON ex.id = nd.id
JOIN ct ON ex.id = ct.id
JOIN gq ON ex.id = gq.id{mq_join}
ORDER BY ex.id
""".strip()


def dataset_card(
    docs: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ONE-row dataset card — the corpus-health summary a training-data
    release ships (dataset cards à la Gebru et al.'s datasheets):
    volume (docs, tokens), dedup rates, contamination rate, quality-gate
    pass rate, mean classifier score, language mix, and source count.
    Composes the audited operators; every input column is itself
    oracle-checked elsewhere, and the card's aggregation is exact
    (integer counts + one fixed-order mean).

    Scale: each component is its operator's plan over ONE shared
    materialized (id, text, tokens) projection; the final agg is a
    single-row reduce with map-side partials. The mean quality logit uses
    round(·,6) — the only FP aggregation — over a SUM of micro-units
    (integer), so partition order cannot move it.

    r12 pass fusion (VERDICT r11 ask #8, guide §1.2): the r11 shape
    composed six component operators, each re-reading the corpus parquet
    and five of them re-running the tokenizer (minhash, contamination,
    gopher inside curate, gopher inside quality_score_linear,
    language_id) — ~6 corpus scans and 5 tokenizes per card. The card now
    materializes (id, text, tokens) ONCE with an eager checkpoint and
    feeds every component from it via ``tokens_col``: one parquet
    pass, one tokenize; the components' own expressions are unchanged, so
    every derived value is identical. A checkpoint (not persist) on
    purpose: its storage is tied to THIS RDD instance — a fresh
    invocation recomputes from parquet, so nothing is cached across
    bench/oracle runs (the CacheManager canonicalized-plan reuse that
    persist() would silently give a repeated identical query). The
    checkpoint goes through links._step_checkpoint: a RELIABLE checkpoint
    when the session has a checkpoint dir (an executor loss must not lose
    the shared frame's blocks mid-card), localCheckpoint otherwise."""
    from connapse_spark.functions.text import tokens_exact_expr
    from connapse_spark.operators import links
    from connapse_spark.operators.textstats import (
        language_id,
        quality_score_linear,
        token_count_bpeish_expr,
    )

    shared = links._step_checkpoint(
        docs.select(
            F.col(id_col),
            F.col(text_col),
            tokens_exact_expr(F.col(text_col)).alias("_ts_shared"),
        )
    )
    verdicts = curate(
        shared, blocklist, id_col=id_col, text_col=text_col,
        tokens_col="_ts_shared",
    )
    q = quality_score_linear(
        shared, id_col=id_col, text_col=text_col, tokens_col="_ts_shared"
    )
    lang = language_id(
        shared, id_col=id_col, text_col=text_col, tokens_col="_ts_shared"
    )
    toks = shared.select(
        F.col(id_col).alias("id"),
        token_count_bpeish_expr(F.col(text_col)).cast("long").alias("n_tok"),
    )
    joined = (
        verdicts.join(q.select(F.col(id_col).alias("id"), "quality_logit"), "id")
        .join(lang.select(F.col(id_col).alias("id"), "lang_pred"), "id")
        .join(toks, "id")
    )
    n = F.count(F.lit(1))
    # integer micro-units → order-free sum; one division at the end
    logit_u = F.sum(F.round(F.col("quality_logit") * 1_000_000).cast("long"))
    return joined.agg(
        n.cast("long").alias("n_docs"),
        F.sum("n_tok").alias("n_bpe_tokens"),
        F.sum(F.when(F.col("reason") == "exact_duplicate", 1).otherwise(0))
        .cast("long")
        .alias("n_exact_dup"),
        F.sum(F.when(F.col("reason") == "near_duplicate", 1).otherwise(0))
        .cast("long")
        .alias("n_near_dup"),
        F.sum(F.when(F.col("reason") == "contaminated", 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.sum(F.when(F.col("reason") == "low_quality", 1).otherwise(0))
        .cast("long")
        .alias("n_low_quality"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.round(logit_u / n / 1_000_000.0, 6).alias("mean_quality_logit"),
        F.sum(F.when(F.col("lang_pred") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
    )


def sql_dataset_card(
    blocklist_sql: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    from connapse_spark.operators.textstats import (
        BPE_RE,
        sql_language_id,
        sql_quality_score_linear,
    )

    # DuckDB string literals do NOT process backslash escapes, so the
    # pattern goes in verbatim (same as sql_quality_stats)
    bpe_re = BPE_RE
    return f"""
WITH verdicts AS ({sql_curate(blocklist_sql, id_col=id_col)}),
q AS (SELECT {id_col} AS id, quality_logit FROM ({sql_quality_score_linear(id_col=id_col)})),
lang AS (SELECT {id_col} AS id, lang_pred FROM ({sql_language_id(id_col=id_col)})),
toks AS (
  SELECT {id_col} AS id,
         CAST(len(regexp_extract_all({text_col}, '{bpe_re}')) AS BIGINT) AS n_tok
  FROM documents
),
joined AS (
  SELECT v.id, v.kept, v.reason, q.quality_logit, lang.lang_pred, toks.n_tok
  FROM verdicts v JOIN q ON v.id = q.id JOIN lang ON v.id = lang.id
  JOIN toks ON v.id = toks.id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(CASE WHEN reason = 'exact_duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       CAST(sum(CASE WHEN reason = 'near_duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       CAST(sum(CASE WHEN reason = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(sum(CASE WHEN reason = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CAST(round(quality_logit * 1000000) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_quality_logit,
       CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
FROM joined
""".strip()
