"""DuckDB oracle-SQL builders mirroring each Spark operator stage-by-stage.

Every builder emits ANSI-ish SQL whose floating-point operation ORDER matches
the Spark plan exactly (sequential folds, identical literal printing via
repr(), same tie-breaks), so results are bit-identical — the driver's
value-hash comparison then passes without rounding tricks.

These strings are what ``__spark_entry__.oracle_sql()`` returns; keeping them
next to the Spark implementations is the single-source-of-truth discipline:
change an operator → change its mirror in the same review.
"""

from __future__ import annotations

from connapse_spark.functions.embed import embed_py, sql_embed, sql_vector_literal
from connapse_spark.functions.text import (
    sql_tokens_exact,
    sql_tokens_stemmed,
    stem_py,
    tokenize_py,
)
from connapse_spark.functions.vector import sql_cosine
from connapse_spark.operators.search import WEIGHT_EXACT, WEIGHT_STEMMED


# ---------------------------------------------------------------------------
# Q3 — keyword search
# ---------------------------------------------------------------------------


def _keyword_raw_sql(query: str) -> str:
    """Mirror of keyword_score_expr: one containment pass per token array."""
    terms = sorted(set(tokenize_py(query)))
    stems = sorted({stem_py(t) for t in terms})
    term_list = ", ".join(f"'{t}'" for t in terms)
    stem_list = ", ".join(f"'{s}'" for s in stems)
    return (
        f"{WEIGHT_EXACT!r} * len(list_filter(te, t -> t IN ({term_list}))) "
        f"+ {WEIGHT_STEMMED!r} * len(list_filter(ts, t -> t IN ({stem_list})))"
    )


def keyword_cte(
    query: str,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    where: str | None = None,
) -> str:
    """CTE body selecting (id, score) for the keyword branch."""
    where_clause = f"WHERE {where}" if where else ""
    return f"""
  SELECT {id_col} AS id, score FROM (
    SELECT {id_col}, raw / (raw + 1.0) AS score FROM (
      SELECT {id_col}, {_keyword_raw_sql(query)} AS raw FROM (
        SELECT {id_col},
               {sql_tokens_exact(text_col)} AS te,
               {sql_tokens_stemmed(text_col)} AS ts
        FROM {table} {where_clause}
      )
    )
  ) WHERE score > 0.0 ORDER BY score DESC, {id_col} LIMIT {k}
""".rstrip()


def keyword_sql(query: str, k: int = 10, **kw) -> str:
    return f"WITH kw AS ({keyword_cte(query, k, **kw)}\n) SELECT id AS {kw.get('id_col', 'doc_id')}, score FROM kw"


def websearch_keyword_cte(
    query: str,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """CTE body selecting (id, score) for the FULL-websearch keyword
    branch (phrases/negation/OR — mirrors keyword_search_websearch's
    match + score expressions), composable into the hybrid fusion tail
    exactly like keyword_cte (r9: hybrid_search(websearch=True))."""
    from connapse_spark.operators.search import (
        parse_websearch,
        sql_websearch_match,
        sql_websearch_score,
    )

    groups = parse_websearch(query)
    return f"""
  SELECT {id_col} AS id, {sql_websearch_score('te', 'ts', groups)} AS score FROM (
    SELECT {id_col},
           {sql_tokens_exact(text_col)} AS te,
           {sql_tokens_stemmed(text_col)} AS ts
    FROM {table}
  ) WHERE {sql_websearch_match('te', 'ts', groups)}
  ORDER BY score DESC, {id_col} LIMIT {k}
""".rstrip()


def sql_keyword_facets(
    query: str,
    facet_col: str,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Mirror of ``search.keyword_facets``: same scoring CTE, aggregated
    by the facet value instead of top-k'd."""
    return f"""
WITH scored AS (
  SELECT facet, raw / (raw + 1.0) AS s FROM (
    SELECT {facet_col} AS facet, {_keyword_raw_sql(query)} AS raw FROM (
      SELECT {facet_col},
             {sql_tokens_exact(text_col)} AS te,
             {sql_tokens_stemmed(text_col)} AS ts
      FROM {table}
    )
  )
)
SELECT facet, CAST(count(*) AS BIGINT) AS n_matches, round(max(s), 9) AS top_score
FROM scored
WHERE s > 0.0
GROUP BY facet
ORDER BY n_matches DESC, facet
""".strip()


# ---------------------------------------------------------------------------
# Vector branch over a text corpus (hash-embedder)
# ---------------------------------------------------------------------------


def vector_cte(
    query: str,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 64,
    where: str | None = None,
) -> str:
    qv = sql_vector_literal(embed_py(query, dims))
    where_clause = f"WHERE {where}" if where else ""
    return f"""
  SELECT id, score FROM (
    SELECT {id_col} AS id, {sql_cosine("e", "qv")} AS score
    FROM (SELECT {id_col}, {sql_embed(text_col, dims)} AS e FROM {table} {where_clause}),
         (SELECT {qv} AS qv)
  ) ORDER BY score DESC, id LIMIT {k}
""".rstrip()


def vector_cte_stored(
    query: str,
    k: int,
    dims: int = 64,
    docs_where: str | None = None,
) -> str:
    """Vector branch over the STORED embeddings table (mirror of
    hybrid_search(vectors=...)): cosine against the embedded query literal;
    a docs-side filter reaches the scan as a semi-join on id."""
    qv = sql_vector_literal(embed_py(query, dims))
    filt = (
        f"WHERE vec_id IN (SELECT doc_id FROM documents WHERE {docs_where})"
        if docs_where
        else ""
    )
    return f"""
  SELECT id, score FROM (
    SELECT vec_id AS id, {sql_cosine("CAST(embedding AS DOUBLE[])", "qv")} AS score
    FROM embeddings, (SELECT {qv} AS qv) {filt}
  ) ORDER BY score DESC, id LIMIT {k}
""".rstrip()


# ---------------------------------------------------------------------------
# Fusion (CC / DBSF) + min-score + autocut + top-k: the full hybrid pipeline
# ---------------------------------------------------------------------------

_MINMAX_NORM = """
  SELECT id, CASE WHEN mx > mn THEN (score - mn) / (mx - mn) ELSE 1.0 END AS {out}
  FROM {src}, (SELECT min(score) AS mn, max(score) AS mx FROM {src})
""".rstrip()

_DBSF_NORM = """
  SELECT id, CASE WHEN n = 1 OR sd < 1e-9 THEN 1.0
              ELSE least(1.0, greatest(0.0, (score - (mu - 3.0 * sd)) / (6.0 * sd))) END AS {out}
  FROM {src}, (
    SELECT n, mu, sqrt(list_reduce(list_prepend(0.0, list_transform(ss, x -> (x - mu) * (x - mu))), (a, b) -> a + b) / n) AS sd
    FROM (
      SELECT ss, len(ss) AS n, list_reduce(list_prepend(0.0, ss), (a, b) -> a + b) / len(ss) AS mu
      FROM (SELECT list(score ORDER BY score) AS ss FROM {src})
    )
  )
""".rstrip()


def hybrid_sql(
    query: str,
    top_k: int = 10,
    min_score: float = 0.0,
    alpha: float = 0.5,
    method: str = "ConvexCombination",
    autocut: bool = False,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 64,
    where: str | None = None,
    stored_vectors: bool = False,
) -> str:
    """Full mirror of operators.search.hybrid_search (Hybrid mode)."""
    fetch_k = top_k  # per-branch TopK, like the reference branches
    v_cte = (
        vector_cte_stored(query, fetch_k, dims, where)
        if stored_vectors
        else vector_cte(query, fetch_k, table, id_col, text_col, dims, where)
    )
    kw_cte = keyword_cte(query, fetch_k, table, id_col, text_col, where)
    return _hybrid_fusion_tail(
        v_cte, kw_cte, top_k, min_score, alpha, method, autocut, id_col
    )


def hybrid_websearch_sql(
    query: str,
    top_k: int = 10,
    min_score: float = 0.0,
    alpha: float = 0.5,
    method: str = "ConvexCombination",
    autocut: bool = False,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 64,
    stored_vectors: bool = False,
) -> str:
    """Mirror of hybrid_search(options.websearch=True): the keyword
    branch carries full tsquery semantics, the vector branch and the
    fusion tail are the shared hybrid mirrors."""
    fetch_k = top_k
    v_cte = (
        vector_cte_stored(query, fetch_k, dims, None)
        if stored_vectors
        else vector_cte(query, fetch_k, table, id_col, text_col, dims, None)
    )
    kw_cte = websearch_keyword_cte(query, fetch_k, table, id_col, text_col)
    return _hybrid_fusion_tail(
        v_cte, kw_cte, top_k, min_score, alpha, method, autocut, id_col
    )


def hybrid_ann_sql(
    query: str,
    top_k: int = 10,
    min_score: float = 0.0,
    alpha: float = 0.5,
    method: str = "ConvexCombination",
    autocut: bool = False,
    dims: int = 64,
    nprobe: int = 3,
    n_lists: int = 8,
) -> str:
    """Mirror of ``hybrid_search(vector_index=seeded IVF, nprobe=…)``: the
    semantic branch scores ONLY the probed inverted lists of the
    deterministic seeded IVF index — the same assignment + seed-centroid +
    probe CTEs the green ``ann_ivf_seeded`` oracle pins (plans/ivf.py
    ``sql_ann_ivf_seeded``) — then the standard keyword branch and fusion
    tail. Python's driver-side probe fold and this SQL's ``ORDER BY s DESC,
    list_id`` are the same sequential FP ops, so list selection matches
    bit-for-bit."""
    from connapse_spark.operators.similarity import sql_cluster_assign

    qv = sql_vector_literal(embed_py(query, dims))
    prefix = f"""q AS (SELECT {qv} AS qv),
assigned AS ({sql_cluster_assign(n_lists)}),
seeds AS (SELECT CAST(vec_id AS BIGINT) AS list_id, CAST(embedding AS DOUBLE[]) AS centroid
          FROM embeddings ORDER BY vec_id LIMIT {n_lists}),
probe AS (
  SELECT list_id FROM (
    SELECT list_id, {sql_cosine("centroid", "qv")} AS s FROM seeds, q
  ) ORDER BY s DESC, list_id LIMIT {nprobe}
),"""
    v_cte = f"""
  SELECT id, score FROM (
    SELECT e.vec_id AS id, {sql_cosine("CAST(e.embedding AS DOUBLE[])", "qv")} AS score
    FROM embeddings e JOIN assigned a USING (vec_id)
         JOIN probe p ON a.cluster = p.list_id, q
  ) ORDER BY score DESC, id LIMIT {top_k}
""".rstrip()
    kw_cte = keyword_cte(query, top_k, "documents", "doc_id", "text", None)
    return _hybrid_fusion_tail(
        v_cte,
        kw_cte,
        top_k,
        min_score,
        alpha,
        method,
        autocut,
        "doc_id",
        prefix_ctes=prefix,
    )


def hybrid_onepass_sql(
    query: str,
    top_k: int = 10,
    min_score: float = 0.0,
    alpha: float = 0.5,
    method: str = "ConvexCombination",
    autocut: bool = False,
    id_col: str = "doc_id",
    dims: int = 64,
    where: str | None = None,
    websearch: bool = False,
) -> str:
    """Mirror of operators.search.hybrid_search_onepass: both branches read
    the same co-located corpus (documents ⋈ embeddings on doc_id = vec_id).
    The Spark side's per-batch top-k pooling is exact, so the oracle is just
    the plain two-branch SQL over the joined corpus. ``where`` narrows the
    corpus before EITHER branch scores (the filtered-search semantics).
    ``websearch`` swaps the keyword branch for full tsquery semantics with
    the BATCH-tier gating (match AND score > 0 — a doc matching only
    negation-free-of-positives groups scores 0 and never enters the
    branch; see hybrid_search_many(websearch=True))."""
    qv = sql_vector_literal(embed_py(query, dims))
    corpus = (
        "SELECT d.doc_id AS id, d.text AS text, e.embedding AS embedding "
        "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id"
        + (f" WHERE {where}" if where else "")
    )
    v_cte = f"""
  SELECT id, score FROM (
    SELECT id, {sql_cosine("CAST(embedding AS DOUBLE[])", "qv")} AS score
    FROM corpus, (SELECT {qv} AS qv)
  ) ORDER BY score DESC, id LIMIT {top_k}
""".rstrip()
    if websearch:
        from connapse_spark.operators.search import (
            parse_websearch,
            sql_websearch_match,
            sql_websearch_score,
        )

        groups = parse_websearch(query)
        kw_cte = f"""
  SELECT id, score FROM (
    SELECT id, {sql_websearch_score('te', 'ts', groups)} AS score,
           {sql_websearch_match('te', 'ts', groups)} AS m FROM (
      SELECT id,
             {sql_tokens_exact('text')} AS te,
             {sql_tokens_stemmed('text')} AS ts
      FROM corpus
    )
  ) WHERE m AND score > 0.0 ORDER BY score DESC, id LIMIT {top_k}
""".rstrip()
    else:
        kw_cte = keyword_cte(query, top_k, table="corpus", id_col="id", text_col="text")
    return _hybrid_fusion_tail(
        v_cte,
        kw_cte,
        top_k,
        min_score,
        alpha,
        method,
        autocut,
        id_col,
        prefix_ctes=f"corpus AS ({corpus}),",
    )


def _hybrid_fusion_tail(
    v_cte: str,
    kw_cte: str,
    top_k: int,
    min_score: float,
    alpha: float,
    method: str,
    autocut: bool,
    id_col: str,
    prefix_ctes: str = "",
) -> str:
    """Shared fusion → min-score → (autocut) → top-k SQL tail over prebuilt
    vector/keyword branch CTE bodies."""
    a = min(max(alpha, 0.0), 1.0)
    norm_tpl = _MINMAX_NORM if method == "ConvexCombination" else _DBSF_NORM
    vn = norm_tpl.format(src="v", out="vscore")
    kn = norm_tpl.format(src="kw", out="kscore")
    fused = f"""
WITH {prefix_ctes}
v AS ({v_cte}
),
kw AS ({kw_cte}
),
vn AS ({vn}
),
kn AS ({kn}
),
fused AS (
  SELECT coalesce(vn.id, kn.id) AS id,
         {a!r} * coalesce(vscore, 0.0) + {1.0 - a!r} * coalesce(kscore, 0.0) AS score,
         coalesce(vscore, 0.0) AS vector_score,
         coalesce(kscore, 0.0) AS keyword_score,
         CASE WHEN vn.id IS NOT NULL AND kn.id IS NOT NULL THEN 'both'
              WHEN vn.id IS NOT NULL THEN 'vector' ELSE 'keyword' END AS source
  FROM vn FULL OUTER JOIN kn ON vn.id = kn.id
),
filtered AS (SELECT * FROM fused WHERE score >= {min_score!r})"""
    if not autocut:
        return (
            fused
            + f"""
SELECT id AS {id_col}, score, vector_score, keyword_score, source
FROM filtered ORDER BY score DESC, id LIMIT {top_k}"""
        )
    return (
        fused
        + f""",
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, id) AS rk,
         lag(score) OVER (ORDER BY score DESC, id) - score AS gap
  FROM filtered
),
astat AS (SELECT count(*) AS n, max(score) AS smax, min(score) AS smin, max(gap) AS maxgap FROM ranked),
cutrk AS (SELECT min(rk) AS crk FROM ranked, astat WHERE gap = maxgap),
secondg AS (SELECT coalesce(max(gap), 0.0) AS sg FROM ranked, cutrk WHERE rk != crk),
kept AS (
  SELECT ranked.* FROM ranked, astat, cutrk, secondg
  WHERE NOT (n > 3 AND smax - smin > 0.0 AND maxgap > 0.1 * (smax - smin) AND maxgap > 2.0 * sg)
     OR rk < crk
)
SELECT id AS {id_col}, score, vector_score, keyword_score, source
FROM kept ORDER BY score DESC, id LIMIT {top_k}"""
    )


# ---------------------------------------------------------------------------
# RRF fusion (extension — operators.search.fuse_rrf)
# ---------------------------------------------------------------------------


def rrf_sql(
    query: str,
    top_k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
    dims: int = 64,
) -> str:
    """Mirror of hybrid_search(fusion='Rrf') over stored vectors: per-branch
    row_number ranks by (score desc, id), score = Σ 1/(k0+rank)."""
    return f"""
WITH v AS ({vector_cte_stored(query, top_k, dims)}
),
kw AS ({keyword_cte(query, top_k)}
),
vr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS vector_rank FROM v),
kr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS keyword_rank FROM kw),
fused AS (
  SELECT coalesce(vr.id, kr.id) AS id,
         coalesce(1.0 / ({k0} + vector_rank), 0.0) + coalesce(1.0 / ({k0} + keyword_rank), 0.0) AS score,
         coalesce(vector_rank, 0) AS vector_rank,
         coalesce(keyword_rank, 0) AS keyword_rank,
         CASE WHEN vr.id IS NOT NULL AND kr.id IS NOT NULL THEN 'both'
              WHEN vr.id IS NOT NULL THEN 'vector' ELSE 'keyword' END AS source
  FROM vr FULL OUTER JOIN kr ON vr.id = kr.id
)
SELECT id AS {id_col}, score, vector_rank, keyword_rank, source
FROM fused ORDER BY score DESC, id LIMIT {top_k}
""".strip()
