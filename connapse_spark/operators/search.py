"""Search / query operators — the Spark re-expression of the reference's
hybrid search pipeline (SURVEY.md §2.6).

Reference lifecycle (HybridSearchService.cs:68-172): vector KNN branch ∥
keyword FTS branch → score fusion (ConvexCombination / DBSF) → optional
rerank → min-score filter → AutoCut → sentence-window substitution → top-k.

Spark shape: every stage is a DataFrame→DataFrame function over the hit
schema ``(id, score, source?)``; the two branches are lazy plans over the
same corpus, so the Spark scheduler runs them concurrently exactly like the
reference's thread pair (HybridSearchService.cs:184-200) — no thread juggling.

Scale notes (100 TB):
 - KNN is a single map-side scan + TakeOrderedAndProject (no full sort, no
   shuffle of the corpus). The query vector is a literal/broadcast — never a
   shuffled join key. For sub-scan latency use the IVF index (plans/ivf.py).
 - Keyword scoring is map-side over precomputed token arrays; the selective
   path is the tf-postings index (operators/keyword_index.py), which
   reads only the query terms' rows.
 - Fusion/autocut operate on ≤ k·2 rows — negligible at any corpus size.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connapse_spark.functions.embed import embed_expr, embed_py
from connapse_spark.functions.text import (
    sql_stem,
    stem_py,
    tokenize_py,
    tokens_exact_expr,
    tokens_stemmed_expr,
)
from connapse_spark.functions.vector import (
    cosine_to_query_sql,
    l2norm_expr,
    spark_sql_bind,
    spark_sql_double_array,
    spark_sql_literal,
    spark_sql_values,
    to_double_array,
)

# Weight-A (exact) vs weight-B (stemmed) term weights, mirroring Postgres
# setweight A/B defaults {A:1.0, B:0.4} (KnowledgeDbContext.cs:232-235).
WEIGHT_EXACT = 1.0
WEIGHT_STEMMED = 0.4


@dataclass
class SearchOptions:
    """Mirror of SearchModels.cs:3-8."""

    top_k: int = 10
    min_score: float = 0.0
    mode: str = "Hybrid"  # Semantic | Keyword | Hybrid
    fusion: str = "ConvexCombination"  # or "Dbsf"
    fusion_alpha: float = 0.5
    auto_cut: bool = False
    filters: dict[str, object] = field(default_factory=dict)
    # r9: route the keyword branch through FULL websearch syntax (phrases,
    # negation, OR-groups) — the reference always feeds raw input through
    # websearch_to_tsquery even in hybrid mode (KeywordSearchService.cs:
    # 73-91); the flat-term scorer stays the default for round-stable
    # oracle behavior, this opts a query into the tsquery semantics
    websearch: bool = False


# ---------------------------------------------------------------------------
# Q2 — vector KNN (cosine, filtered)
# ---------------------------------------------------------------------------


def vector_knn(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: Column | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector
    (reference: PgVectorStore.cs:186-285 — score = cosine similarity,
    filters AND-composed before the scan so they push into the parquet read).

    The plan is scan → project(cosine) → TakeOrderedAndProject(k): one pass,
    no shuffle. Ties broken by id for determinism. ``norm_col`` names a
    stored row-norm column (``l2norm_expr`` of ``vec_col``, e.g. the IVF
    index's ``norm``): the scan then reads it instead of folding each
    row's norm — the same double, so the same scores.
    """
    df = vectors
    if predicate is not None:
        df = df.filter(predicate)
    # query norm folds driver-side (same FP order → same bits): the scan
    # pays two O(d) folds per row instead of three (r11)
    norm = None if norm_col is None else f"`{norm_col}`"
    score = cosine_to_query_sql(spark_sql_double_array(vec_col), query_vec, norm_col=norm)
    scored = df.selectExpr(f"`{id_col}`", f"{score} AS score")
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Q3 — keyword search (weighted exact+stemmed TF, rank/(rank+1) normalized)
# ---------------------------------------------------------------------------


def keyword_score_expr(text: Column, query: str) -> Column:
    """Documented simplification of ``ts_rank_cd(vector, query, 32)``
    (KeywordSearchService.cs:73-91): term-frequency scoring where exact-token
    matches carry weight A=1.0 and stemmed matches weight B=0.4, normalized
    rank/(rank+1) into [0,1) like ts_rank_cd normalization flag 32.

    Computed as ONE containment pass per token array (Σ_t∈terms tf(t) equals
    the count of tokens that are query terms — integer math, so identical to
    the per-term sum): keeps the codegen'd expression tree small (a per-term
    expression chain compiles an enormous whole-stage function) and each
    array is traversed once per row.

    The exact-token array is BOUND once via a one-element transform
    lambda and the stemmed array derived from it (r11): referencing
    ``tokens_exact_expr`` twice (directly + inside tokens_stemmed_expr)
    ran the full tokenizer twice per row — HOF-heavy subtrees sit
    outside codegen's subexpression elimination (measured 1.35× on the
    sf0.1 dual-tokenize pass; same mechanism as dedup.shingles_expr).
    """
    from connapse_spark.functions.text import stem_expr

    terms = sorted(set(tokenize_py(query)))
    stems = sorted({stem_py(t) for t in terms})

    def _score(te: Column) -> Column:
        ts = F.transform(te, stem_expr)
        n_exact = F.size(F.filter(te, lambda t: t.isin(*terms)))
        n_stem = F.size(F.filter(ts, lambda t: t.isin(*stems)))
        raw = F.lit(WEIGHT_EXACT) * n_exact + F.lit(WEIGHT_STEMMED) * n_stem
        return raw / (raw + F.lit(1.0))

    return F.element_at(
        F.transform(F.array(tokens_exact_expr(text)), _score), 1
    )


def keyword_squash_sql(n_exact: str, n_stem: str) -> str:
    """Spark-SQL text of the flat keyword score over integer exact and
    stemmed match counts ``n_exact``/``n_stem``: the weighted sum,
    normalized raw/(raw+1) — keyword_score_expr's arithmetic."""
    raw = (
        f"({spark_sql_literal(WEIGHT_EXACT)} * {n_exact} "
        f"+ {spark_sql_literal(WEIGHT_STEMMED)} * {n_stem})"
    )
    return f"({raw} / ({raw} + 1.0D))"


def keyword_score_sql(te: str, ts: str, terms: list[str], stems: list[str]) -> str:
    """Spark-SQL text of the flat keyword score over token-array
    expressions ``te``/``ts``: :func:`keyword_squash_sql` of the counts of
    their elements that are query terms / stems."""

    def _count(arr: str, vals: list[str]) -> str:
        hit = f"t IN ({spark_sql_values(vals)})" if vals else "FALSE"
        return f"size(filter({arr}, t -> {hit}))"

    return keyword_squash_sql(_count(te, terms), _count(ts, stems))


def keyword_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    predicate: Column | None = None,
) -> DataFrame:
    df = docs
    if predicate is not None:
        df = df.filter(predicate)
    scored = df.select(
        F.col(id_col),
        keyword_score_expr(F.col(text_col), query).alias("score"),
    )
    # top-k FIRST, score>0 cut on the ≤k survivors (r11): score >= 0 always
    # (raw/(raw+1) of a non-negative raw) and zero-score rows sort LAST
    # under desc(score), so the post-limit filter keeps exactly the rows
    # the pre-limit filter kept — but a pre-limit score>0 pushes through
    # the projection and evaluates the full scoring expression (embedded
    # tokenizer included) a SECOND time per scanned row; a Limit is a
    # pushdown barrier, so this shape scores each row once.
    return (
        scored.orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
        .filter(F.col("score") > 0.0)
    )


# ---------------------------------------------------------------------------
# Q3 — websearch query syntax (websearch_to_tsquery analogue)
#
# The reference feeds raw user input through Postgres websearch_to_tsquery
# (KeywordSearchService.cs:73-91): unquoted words AND together, "quoted
# text" is an adjacency phrase, a leading - negates, OR (any case) has the
# lowest precedence. We parse once into an OR-list of AND-groups and emit
# BOTH the Spark match/score expressions and the DuckDB mirror from that one
# parse, over the same dual exact/stemmed token arrays as keyword_score_expr
# (the 'simple' || 'english' double-config trick).
# ---------------------------------------------------------------------------


@dataclass
class WebsearchTerm:
    tokens: list[str]
    negated: bool = False
    phrase: bool = False  # adjacency required (quoted, or multi-token word)


def parse_websearch(query: str) -> list[list[WebsearchTerm]]:
    """Parse websearch syntax into OR-of-AND-groups. Hyphenated/compound
    unquoted words tokenize to multi-token phrases, matching Postgres
    treating 'fast-merge' as a phrase."""
    items: list[tuple] = []
    s = query or ""
    i = 0
    while i < len(s):
        c = s[i]
        if c.isspace():
            i += 1
            continue
        neg = False
        if c == "-":
            neg = True
            i += 1
            c = s[i] if i < len(s) else ""
        if c == '"':
            j = s.find('"', i + 1)
            if j < 0:
                j = len(s)
            words = tokenize_py(s[i + 1 : j])
            i = j + 1
            if words:
                items.append(("term", words, neg, True))
        else:
            j = i
            while j < len(s) and not s[j].isspace() and s[j] != '"':
                j += 1
            word = s[i:j]
            i = j
            if word.upper() == "OR" and not neg:
                items.append(("or",))
            else:
                words = tokenize_py(word)
                if words:
                    items.append(("term", words, neg, len(words) > 1))
    groups: list[list[WebsearchTerm]] = [[]]
    for it in items:
        if it[0] == "or":
            if groups[-1]:
                groups.append([])
        else:
            groups[-1].append(WebsearchTerm(tokens=it[1], negated=it[2], phrase=it[3]))
    return [g for g in groups if g]


def _phrase_occurrences(arr: str, words: list[str]) -> str:
    """Count of adjacency matches of ``words`` in token array ``arr``
    (Spark-SQL text over an array<string> expression).

    Computed as a non-overlapping substring count over the double-space-
    joined token string (tokens are lowercase alphanumeric, so the
    delimiter is unambiguous; the double space lets back-to-back
    occurrences each keep their boundary spaces). One string build + one
    replace per row — stays in whole-stage codegen, unlike a per-position
    array-slice compare (measured 20s vs sub-second over 5k docs at sf0.1).
    Periodic phrases sharing a token between occurrences count once, not
    twice — documented simplification, mirrored exactly in the oracle;
    presence (count > 0) is unaffected."""
    s = f"concat(' ', array_join({arr}, '  '), ' ')"
    p = " " + "  ".join(words) + " "
    return f"CAST((length({s}) - length(replace({s}, {spark_sql_literal(p)}, ''))) / {len(p)} AS INT)"


def _sql_phrase_occurrences(arr: str, words: list[str]) -> str:
    # coalesce: DuckDB's array_to_string([]) is NULL while Spark's
    # array_join([]) is '' — without it a NEGATED phrase never matches
    # empty documents in the oracle (found by the websearch fuzz test)
    s = f"(' ' || coalesce(array_to_string({arr}, '  '), '') || ' ')"
    p = " " + "  ".join(words) + " "
    return f"CAST((length({s}) - length(replace({s}, '{p}', ''))) / {len(p)} AS INT)"


def _term_presence(te: str, ts: str, term: WebsearchTerm, stem_fn=None) -> str:
    """Either config matches (exact tokens OR stemmed tokens), like
    ``@@ (websearch_to_tsquery('simple',q) || websearch_to_tsquery('english',q))``."""
    stem = stem_py if stem_fn is None else stem_fn
    stems = [stem(t) for t in term.tokens]
    if term.phrase:
        return (
            f"({_phrase_occurrences(te, term.tokens)} > 0 "
            f"OR {_phrase_occurrences(ts, stems)} > 0)"
        )
    return (
        f"(array_contains({te}, {spark_sql_literal(term.tokens[0])}) "
        f"OR array_contains({ts}, {spark_sql_literal(stems[0])}))"
    )


def _sql_term_presence(te: str, ts: str, term: WebsearchTerm) -> str:
    stems = [stem_py(t) for t in term.tokens]
    if term.phrase:
        return (
            f"({_sql_phrase_occurrences(te, term.tokens)} > 0 "
            f"OR {_sql_phrase_occurrences(ts, stems)} > 0)"
        )
    return f"(list_contains({te}, '{term.tokens[0]}') OR list_contains({ts}, '{stems[0]}'))"


def websearch_match_sql(
    te: str, ts: str, groups: list[list[WebsearchTerm]], stem_fn=None
) -> str:
    """Spark-SQL boolean text: some OR-group has all its positive terms
    present and none of its negated ones, over the token-array
    expressions ``te``/``ts``."""
    ors = []
    for g in groups:
        ands = [
            ("NOT " if term.negated else "") + _term_presence(te, ts, term, stem_fn)
            for term in g
        ]
        ors.append("(" + " AND ".join(ands) + ")")
    return "(" + " OR ".join(ors) + ")" if ors else "FALSE"


def sql_websearch_match(te: str, ts: str, groups: list[list[WebsearchTerm]]) -> str:
    ors = []
    for g in groups:
        ands = [
            ("NOT " if term.negated else "") + _sql_term_presence(te, ts, term)
            for term in g
        ]
        ors.append("(" + " AND ".join(ands) + ")")
    return "(" + " OR ".join(ors) + ")" if ors else "FALSE"


def _positive_terms(groups: list[list[WebsearchTerm]]):
    singles = sorted({t.tokens[0] for g in groups for t in g if not t.negated and not t.phrase})
    phrases_seen: dict[tuple, list[str]] = {}
    for g in groups:
        for t in g:
            if not t.negated and t.phrase:
                phrases_seen.setdefault(tuple(t.tokens), t.tokens)
    return singles, [list(p) for p in sorted(phrases_seen)]


def websearch_score_sql(
    te: str, ts: str, groups: list[list[WebsearchTerm]], stem_fn=None
) -> str:
    """Spark-SQL score text: TF scoring over positive terms only (same
    documented ts_rank_cd(…,32) simplification as keyword_score_expr):
    singles count per-config with weights A/B; a phrase occurrence counts
    len(phrase) tokens. The sum is a left fold from 0.0 in term order."""
    stem = stem_py if stem_fn is None else stem_fn
    singles, phrases = _positive_terms(groups)
    we, ws = spark_sql_literal(WEIGHT_EXACT), spark_sql_literal(WEIGHT_STEMMED)
    raw = "0.0D"
    if singles:
        stems = sorted({stem(t) for t in singles})
        raw = f"({raw} + {we} * size(filter({te}, t -> t IN ({spark_sql_values(singles)}))))"
        raw = f"({raw} + {ws} * size(filter({ts}, t -> t IN ({spark_sql_values(stems)}))))"
    for ph in phrases:
        stems = [stem(t) for t in ph]
        raw = (
            f"({raw} + {spark_sql_literal(float(len(ph)))} * ("
            f"{we} * {_phrase_occurrences(te, ph)} + {ws} * {_phrase_occurrences(ts, stems)}))"
        )
    return f"({raw} / ({raw} + 1.0D))"


def sql_websearch_score(te: str, ts: str, groups: list[list[WebsearchTerm]]) -> str:
    singles, phrases = _positive_terms(groups)
    parts = ["0.0"]
    if singles:
        stems = sorted({stem_py(t) for t in singles})
        s_in = ", ".join(f"'{t}'" for t in singles)
        st_in = ", ".join(f"'{t}'" for t in stems)
        parts.append(f"{WEIGHT_EXACT} * len(list_filter({te}, t -> t IN ({s_in})))")
        parts.append(f"{WEIGHT_STEMMED} * len(list_filter({ts}, t -> t IN ({st_in})))")
    for ph in phrases:
        stems = [stem_py(t) for t in ph]
        parts.append(
            f"{float(len(ph))} * ({WEIGHT_EXACT} * {_sql_phrase_occurrences(te, ph)} "
            f"+ {WEIGHT_STEMMED} * {_sql_phrase_occurrences(ts, stems)})"
        )
    raw = "(" + " + ".join(parts) + ")"
    return f"({raw} / ({raw} + 1.0))"


def keyword_search_websearch(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    predicate: Column | None = None,
) -> DataFrame:
    """Q3 with full websearch syntax. Token arrays are computed once in a
    projection and shared by the match filter and the scorer — one map-side
    pass per row, no shuffle before the top-k."""
    groups = parse_websearch(query)
    df = docs if predicate is None else docs.filter(predicate)
    if not groups:
        return df.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    # _ts derives from the _te COLUMN (r11): a second tokens_stemmed_expr
    # over text re-runs the tokenizer per row (no codegen CSE across the
    # two HOF subtrees); CollapseProject keeps the boundary since _te is
    # non-cheap and referenced twice
    from connapse_spark.functions.text import stem_expr

    toks = df.select(
        F.col(id_col), tokens_exact_expr(F.col(text_col)).alias("_te")
    ).withColumn("_ts", F.transform(F.col("_te"), stem_expr))
    # the match gate binds both arrays at the FILTER site (r11): predicate
    # pushdown substitutes _te/_ts through the projection, and the match
    # expression references them once per term — unbound, the pushed-down
    # scan filter carried ~11 full tokenizer copies (10.7 KB plan
    # condition); bound, the substitution lands inside one-element
    # transform lambdas and the filter tokenizes once per scanned row.
    # The stemmed array derives from the BOUND exact array, not the _ts
    # column: the column substitutes back to transform(<tokenizer>, stem)
    # under pushdown, re-tokenizing a second time in the filter.
    match = spark_sql_bind(
        "_te",
        "_wa",
        spark_sql_bind(
            f"transform(_wa, t -> {sql_stem('t')})",
            "_wb",
            websearch_match_sql("_wa", "_wb", groups),
        ),
    )
    return (
        toks.filter(F.expr(match))
        .select(F.col(id_col), F.expr(websearch_score_sql("_te", "_ts", groups)).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def sql_keyword_websearch(
    query: str, k: int = 10, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    from connapse_spark.functions.text import sql_tokens_exact, sql_tokens_stemmed

    groups = parse_websearch(query)
    if not groups:
        return f"SELECT {id_col}, 0.0 AS score FROM {table} WHERE FALSE"
    return f"""
WITH toks AS (
  SELECT {id_col}, {sql_tokens_exact(text_col)} AS te, {sql_tokens_stemmed(text_col)} AS ts
  FROM {table}
)
SELECT {id_col}, {sql_websearch_score('te', 'ts', groups)} AS score
FROM toks WHERE {sql_websearch_match('te', 'ts', groups)}
ORDER BY score DESC, {id_col} LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Q3 — proximity (cover-density) ranking
#
# ts_rank_cd(vector, query, 32) rewards term PROXIMITY: covers (minimal
# windows containing the query terms) contribute ~1/width each
# (KeywordSearchService.cs:73-91 ranks with ts_rank_cd). The flat TF score
# above ignores adjacency. This variant adds a documented cover-density
# proxy: for every ADJACENT pair of distinct query terms, the minimal
# position distance between their occurrences earns a 1/mindist bonus
# (per config, A/B weighted like the TF part) — adjacent hits score a full
# extra point per pair, scattered hits asymptotically nothing, which is the
# shape of ts_rank_cd's 1/width cover sum without the O(doc·terms) cover
# walk. The minimal distance is the min of the position-distance matrix
# over one document's matched occurrences (keyword_search_proximity); the
# DuckDB oracle computes the same integer over all positions of the two
# terms, so the hash compare holds.
# ---------------------------------------------------------------------------


def _sql_positions(arr: str, term: str) -> str:
    # DuckDB lambda index is 1-based; -1 aligns with Spark's 0-based fold.
    return (
        f"list_filter(list_transform({arr}, (x, i) -> "
        f"CASE WHEN x = '{term}' THEN i - 1 ELSE -1 END), v -> v >= 0)"
    )


def _sql_pair_bonus(arr: str, t1: str, t2: str) -> str:
    p1, p2 = _sql_positions(arr, t1), _sql_positions(arr, t2)
    md = f"list_min(flatten(list_transform({p1}, a -> list_transform({p2}, b -> abs(a - b)))))"
    return (
        f"CASE WHEN len({p1}) > 0 AND len({p2}) > 0 "
        f"THEN 1.0 / greatest({md}, 1) ELSE 0.0 END"
    )


def _query_term_pairs(query: str) -> tuple[list[str], list[tuple[str, str]]]:
    terms = list(dict.fromkeys(tokenize_py(query)))
    pairs = [(a, b) for a, b in zip(terms, terms[1:]) if a != b]
    return terms, pairs


def _occ_pair_bonus(occ: Column, field: str, t1: str, t2: str) -> Column:
    """Pair bonus from the per-doc matched-occurrence list (struct pos/e/s):
    the position lists here hold only the query-term hits of ONE document,
    so the |p1|·|p2| distance matrix is trivially small."""
    p1 = F.transform(F.filter(occ, lambda x: x[field] == F.lit(t1)), lambda x: x["pos"])
    p2 = F.transform(F.filter(occ, lambda x: x[field] == F.lit(t2)), lambda x: x["pos"])
    md = F.array_min(
        F.flatten(F.transform(p1, lambda a: F.transform(p2, lambda b: F.abs(a - b))))
    )
    return F.when(
        (F.size(p1) > 0) & (F.size(p2) > 0), F.lit(1.0) / F.greatest(md, F.lit(1))
    ).otherwise(F.lit(0.0))


def keyword_search_proximity(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    predicate: Column | None = None,
) -> DataFrame:
    """Q3 with the cover-density proximity bonus, as a POSITIONAL-TOKENS
    plan: posexplode the zipped exact/stemmed token arrays (whole-stage
    codegen), keep only query-term occurrences, and aggregate per document —
    counts give the TF part, the collected (pos, exact, stem) structs give
    the pair mindists over per-doc lists of a handful of hits.

    Scale shape: the explode is map-side; the only shuffle carries matched
    occurrences (∝ query-term document frequency, the same volume a
    posting-list probe moves), grouped by doc id. Interpreted HOFs touch
    only the per-doc matched lists — measured 5× faster than folding every
    token through a lambda (HOF lambdas don't codegen), and the winner by
    far at high corpus scale where matched rows ≪ tokens."""
    terms, pairs = _query_term_pairs(query)
    if not terms:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    uniq = sorted(set(terms))
    stems = sorted({stem_py(t) for t in terms})
    df = docs if predicate is None else docs.filter(predicate)
    # the stemmed array derives from the exact-token COLUMN (r11): a
    # second tokens_stemmed_expr(text) in the zip re-ran the tokenizer
    # per row; the projection boundary survives CollapseProject (_te
    # non-cheap, referenced twice)
    from connapse_spark.functions.text import stem_expr

    z = df.select(
        F.col(id_col), tokens_exact_expr(F.col(text_col)).alias("_te")
    ).select(
        F.col(id_col),
        F.posexplode(
            F.arrays_zip(
                F.col("_te").alias("e"),
                F.transform(F.col("_te"), stem_expr).alias("s"),
            )
        ).alias("pos", "tok"),
    )
    matched = z.select(
        F.col(id_col), "pos", F.col("tok.e").alias("e"), F.col("tok.s").alias("s")
    ).filter(F.col("e").isin(*uniq) | F.col("s").isin(*stems))
    g = matched.groupBy(id_col).agg(
        F.collect_list(F.struct("pos", "e", "s")).alias("occ")
    )
    occ = F.col("occ")
    raw = F.lit(WEIGHT_EXACT) * F.size(F.filter(occ, lambda x: x["e"].isin(*uniq)))
    raw = raw + F.lit(WEIGHT_STEMMED) * F.size(
        F.filter(occ, lambda x: x["s"].isin(*stems))
    )
    for a, b in pairs:
        raw = raw + F.lit(WEIGHT_EXACT) * _occ_pair_bonus(occ, "e", a, b)
        sa, sb = stem_py(a), stem_py(b)
        raw = raw + F.lit(WEIGHT_STEMMED) * _occ_pair_bonus(occ, "s", sa, sb)
    # gate on the materialized occ column instead of score>0 (r11): score>0
    # ⟺ occ non-empty here (every collected occurrence matched at least one
    # config, so raw >= WEIGHT_STEMMED > 0), and the score>0 form pushed
    # through the projection, re-evaluating the ENTIRE proximity expression
    # (TF filters + every pair bonus — an 11.7 KB plan condition) a second
    # time per doc; size(occ) is an O(1) read of the aggregated column and
    # cannot push below the aggregation.
    scored = g.filter(F.size("occ") > 0).select(
        F.col(id_col), (raw / (raw + F.lit(1.0))).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def sql_keyword_proximity(
    query: str,
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from connapse_spark.functions.text import sql_tokens_exact, sql_tokens_stemmed

    terms, pairs = _query_term_pairs(query)
    uniq = sorted(set(terms))
    stems = sorted({stem_py(t) for t in terms})
    s_in = ", ".join(f"'{t}'" for t in uniq)
    st_in = ", ".join(f"'{t}'" for t in stems)
    parts = [
        f"{WEIGHT_EXACT} * len(list_filter(te, t -> t IN ({s_in})))",
        f"{WEIGHT_STEMMED} * len(list_filter(ts, t -> t IN ({st_in})))",
    ]
    for a, b in pairs:
        parts.append(f"{WEIGHT_EXACT} * ({_sql_pair_bonus('te', a, b)})")
        sa, sb = stem_py(a), stem_py(b)
        parts.append(f"{WEIGHT_STEMMED} * ({_sql_pair_bonus('ts', sa, sb)})")
    raw = "(" + " + ".join(parts) + ")"
    return f"""
WITH toks AS (
  SELECT {id_col}, {sql_tokens_exact(text_col)} AS te, {sql_tokens_stemmed(text_col)} AS ts
  FROM {table}
)
SELECT {id_col}, ({raw} / ({raw} + 1.0)) AS score
FROM toks WHERE ({raw} / ({raw} + 1.0)) > 0.0
ORDER BY score DESC, {id_col} LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Keyword extension — BM25 (the idiomatic Spark IR scorer, SURVEY.md §2.6 Q3)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def keyword_search_bm25(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi BM25 over the stemmed token arrays ('english'-config analogue;
    Lucene likewise scores the stemmed field). Extension beyond the
    reference's ts_rank_cd (KeywordSearchService.cs:73-91) — BM25 is the
    scorer a Spark-first IR stack would use, per SURVEY §2.6 Q3's mapping.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with
    Lucene's non-negative idf ``ln(1 + (N−df+0.5)/(df+0.5))``.

    Plan shape: ONE corpus pass computes per-term tf (integer containment
    counts) and doc length; corpus stats (N, Σdl, per-term df) are a single
    map-side-partial aggregate producing ONE row, broadcast back with a
    cross join. All integer sums, so the stats are bit-exact regardless of
    partition order — the FP work (idf, saturation) happens once per row in
    a fixed expression order mirrored by the DuckDB oracle. Two jobs, no
    corpus shuffle; the top-k is TakeOrderedAndProject.
    """
    terms = sorted({stem_py(t) for t in tokenize_py(query)})
    base = docs.select(
        F.col(id_col),
        tokens_stemmed_expr(F.col(text_col)).alias("_ts"),
    ).withColumn("_dl", F.size("_ts"))

    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum(F.array_contains("_ts", t).cast("long")).alias(f"_df_{i}")
            for i, t in enumerate(terms)
        ],
    )

    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    norm = F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("_dl").cast("double") / avgdl))
    def _tf(term):
        # single-arg lambda: a two-arg lambda (even via default binding)
        # selects F.filter's (element, index) overload and breaks the predicate
        return F.size(F.filter("_ts", lambda x: x == F.lit(term))).cast("double")

    score = None
    for i, t in enumerate(terms):
        tf = _tf(t)
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - F.col(f"_df_{i}").cast("double") + F.lit(0.5))
            / (F.col(f"_df_{i}").cast("double") + F.lit(0.5))
        )
        part = idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)
        score = part if score is None else score + part
    # round(…, 9): idf's ln is transcendental and Java Math.log can differ
    # from DuckDB's libm by 1 ulp; rounding keeps the oracle bit-strict and
    # makes cross-engine ranking identical (same rationale as tfidf_top_terms)
    # top-k first, score>0 cut on the ≤k survivors (r11): BM25 parts are
    # idf·nonneg with idf = ln(1 + positive) > 0, so score >= 0 and
    # zero-score rows sort last — same rows as the pre-limit filter, but
    # the Limit barrier stops the filter from re-evaluating the per-term
    # tf HOF sum a second time per row (see keyword_search)
    return (
        scored.select(F.col(id_col), F.round(score, 9).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
        .filter(F.col("score") > 0.0)
    )


def sql_keyword_bm25(
    query: str,
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    from connapse_spark.functions.text import sql_tokens_stemmed

    terms = sorted({stem_py(t) for t in tokenize_py(query)})
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains(ts, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(terms)
    )
    norm = f"({k1!r} * (1.0 - {b!r} + {b!r} * (CAST(dl AS DOUBLE) / avgdl)))"
    parts = []
    for i, t in enumerate(terms):
        tf = f"CAST(len(list_filter(ts, x -> x = '{t}')) AS DOUBLE)"
        idf = f"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        parts.append(f"{idf} * ({tf} * {k1 + 1.0!r}) / ({tf} + {norm})")
    score = "(" + " + ".join(parts) + ")"
    return f"""
WITH base AS (
  SELECT {id_col}, ts, len(ts) AS dl FROM (
    SELECT {id_col}, {sql_tokens_stemmed(text_col)} AS ts FROM {table}
  )
),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sumdl, {df_cols} FROM base
),
scored AS (
  SELECT {id_col}, round({score}, 9) AS score
  FROM base, (SELECT *, CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl FROM stats)
)
SELECT {id_col}, score FROM scored WHERE score > 0.0
ORDER BY score DESC, {id_col} LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Q5/Q6 — fusion
# ---------------------------------------------------------------------------


def _minmax_sql(score: str) -> str:
    """MinMaxNormalize (HybridSearchService.cs: range>0 → (s-min)/range,
    else all 1.0) of column ``score``, as Spark-SQL text. Stats via
    whole-frame window aggregates, not agg + broadcast cross join: the
    windows ride the single-partition exchange the hit list already has
    (it is post-limit, ≤ k rows), while every broadcast adds a separate
    Spark job — measured ~2s of pure scheduling overhead per hybrid query
    across the four normalize/stats broadcasts."""
    mn, mx = f"min({score}) OVER ()", f"max({score}) OVER ()"
    return f"CASE WHEN {mx} > {mn} THEN ({score} - {mn}) / ({mx} - {mn}) ELSE 1.0D END"


def _dbsf_sql(score: str) -> str:
    """DbsfNormalize: clamp((s - (mean - 3σ)) / 6σ, 0, 1) with population σ;
    n==1 or σ<1e-9 → all 1.0 (HybridSearchService.cs:340-360), of column
    ``score``, as Spark-SQL text.

    Mean/σ are computed by a *sorted sequential fold* over the collected
    score list rather than ``avg``/``stddev_pop``: distributed reductions sum
    in partition order, which is nondeterministic in the last FP bits; the
    fold is bit-stable and mirrored exactly by the DuckDB oracle. Hit lists
    are ≤ a few k rows post-limit, so the collect_list is trivially safe at
    any corpus scale — and for the same reason the stats ride a whole-frame
    window aggregate on the list's existing single partition instead of an
    agg + broadcast cross join (each broadcast is a separate Spark job; see
    _minmax_sql). Each statistic is bound once per row."""
    clamp = (
        "CASE WHEN (_n = 1) OR (_sd < 1.0e-9D) THEN 1.0D "
        f"ELSE least(1.0D, greatest(0.0D, ({score} - (_mu - 3.0D * _sd)) / (6.0D * _sd))) END"
    )
    sd = "sqrt(aggregate(_ss, 0.0D, (a, v) -> a + (v - _mu) * (v - _mu)) / _n)"
    mu = "aggregate(_ss, 0.0D, (a, v) -> a + v) / _n"
    return spark_sql_bind(
        f"sort_array(collect_list({score}) OVER ())",
        "_ss",
        spark_sql_bind(
            "size(_ss)", "_n", spark_sql_bind(mu, "_mu", spark_sql_bind(sd, "_sd", clamp))
        ),
    )


def fuse(
    vector_hits: DataFrame,
    keyword_hits: DataFrame,
    alpha: float = 0.5,
    method: str = "ConvexCombination",
    id_col: str = "id",
) -> DataFrame:
    """Full-outer merge by id with per-side normalization
    (FuseResults / FuseResultsDbsf, HybridSearchService.cs:227-360).

    Output: (id, score, vector_score, keyword_score, source∈{vector,keyword,both}).
    Missing side contributes 0; alpha clamped to [0,1]. Input sides are tiny
    (≤ a few k rows), so the join is trivially broadcastable.
    """
    norm = _minmax_sql if method == "ConvexCombination" else _dbsf_sql
    a = min(max(alpha, 0.0), 1.0)
    v = vector_hits.selectExpr(f"`{id_col}`", f"{norm('score')} AS vector_score")
    kw = keyword_hits.selectExpr(f"`{id_col}`", f"{norm('score')} AS keyword_score")
    merged = v.join(kw, on=id_col, how="full_outer")
    return merged.selectExpr(
        f"`{id_col}`",
        f"{spark_sql_literal(a)} * coalesce(vector_score, 0.0D) "
        f"+ {spark_sql_literal(1.0 - a)} * coalesce(keyword_score, 0.0D) AS score",
        "coalesce(vector_score, 0.0D) AS vector_score",
        "coalesce(keyword_score, 0.0D) AS keyword_score",
        "CASE WHEN vector_score IS NOT NULL AND keyword_score IS NOT NULL THEN 'both' "
        "WHEN vector_score IS NOT NULL THEN 'vector' ELSE 'keyword' END AS source",
    )


# ---------------------------------------------------------------------------
# Fusion extension — reciprocal-rank fusion (RRF)
# ---------------------------------------------------------------------------


def fuse_rrf(
    vector_hits: DataFrame,
    keyword_hits: DataFrame,
    k0: int = 60,
    id_col: str = "id",
) -> DataFrame:
    """Reciprocal-rank fusion — the baseline the reference's own docs
    benchmark ConvexCombination against (docs/architecture.md:444, citing
    Bruch et al., ACM TOIS 2023). Not a reference operator; shipped as a
    first-class fusion extension because every hybrid-search user asks for it.

    ``score = Σ_branches 1 / (k0 + rank)`` with rank assigned per branch by
    (score desc, id). Rank-only, so it needs no score normalization and is
    immune to scale mismatch between branches. Output mirrors ``fuse``:
    (id, score, vector_rank, keyword_rank, source); a missing side
    contributes 0 and rank 0.

    The row_number windows ride the post-limit single-partition hit lists
    (≤ k rows) — no corpus-scale shuffle, same as _minmax_sql.
    """
    w = Window.partitionBy().orderBy(F.desc("score"), F.col(id_col))
    v = (
        vector_hits.select(F.col(id_col), F.col("score"))
        .withColumn("vector_rank", F.row_number().over(w).cast("bigint"))
        .drop("score")
    )
    kw = (
        keyword_hits.select(F.col(id_col), F.col("score"))
        .withColumn("keyword_rank", F.row_number().over(w).cast("bigint"))
        .drop("score")
    )
    merged = v.join(kw, on=id_col, how="full_outer")
    in_v = F.col("vector_rank").isNotNull()
    in_k = F.col("keyword_rank").isNotNull()
    rrf_v = F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("vector_rank")), F.lit(0.0))
    rrf_k = F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("keyword_rank")), F.lit(0.0))
    return merged.select(
        F.col(id_col),
        (rrf_v + rrf_k).alias("score"),
        F.coalesce(F.col("vector_rank"), F.lit(0).cast("bigint")).alias("vector_rank"),
        F.coalesce(F.col("keyword_rank"), F.lit(0).cast("bigint")).alias("keyword_rank"),
        F.when(in_v & in_k, "both").when(in_v, "vector").otherwise("keyword").alias("source"),
    )


# ---------------------------------------------------------------------------
# Q10 — AutoCut
# ---------------------------------------------------------------------------


def auto_cut(hits: DataFrame, id_col: str = "id", score_col: str = "score") -> DataFrame:
    """Trim after the largest score gap (ApplyAutoCut,
    HybridSearchService.cs:380-411): with hits sorted desc, find the largest
    and second-largest consecutive gaps; cut before the largest-gap element
    iff n>3 AND range>0 AND maxGap > 0.1·range AND maxGap > 2·secondGap.
    First occurrence wins on gap ties (strict > in the reference scan), which
    also means tied max gaps never cut (maxGap > 2·secondGap fails).
    The reference's ``maxGap/range > 0.1`` is expressed multiplication-side
    (``maxGap > 0.1·range``) to avoid division — identical given range>0 up
    to FP rounding, and mirrored verbatim in the oracle.

    Relational form: rank + lag windows, then whole-frame window aggregates
    stacked as a LINEAR chain of projections — never self-joins. A diamond
    plan (ranked ⋈ agg(ranked) ⋈ …) re-executes the entire upstream search
    pipeline once per branch; the window chain scans it exactly once.
    Single-partition windows are fine — this always runs on ≤ a few hundred
    rows post-fusion.
    """
    w = Window.orderBy(F.desc(score_col), F.col(id_col))
    wall = Window.partitionBy()  # whole-frame aggregate window
    ranked = hits.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_gap", F.lag(score_col).over(w) - F.col(score_col)
    )
    step1 = (
        ranked.withColumn("_n", F.count(F.lit(1)).over(wall))
        .withColumn("_smax", F.max(score_col).over(wall))
        .withColumn("_smin", F.min(score_col).over(wall))
        .withColumn("_maxgap", F.max("_gap").over(wall))
    )
    # cut rank = first (lowest-rank) occurrence of the max gap
    step2 = step1.withColumn(
        "_cutrk",
        F.min(F.when(F.col("_gap") == F.col("_maxgap"), F.col("_rk"))).over(wall),
    )
    # second-largest gap = max gap excluding that single instance
    step3 = step2.withColumn(
        "_secondgap",
        F.coalesce(
            F.max(F.when(F.col("_rk") != F.col("_cutrk"), F.col("_gap"))).over(wall),
            F.lit(0.0),
        ),
    )
    rng = F.col("_smax") - F.col("_smin")
    do_cut = (
        (F.col("_n") > 3)
        & (rng > F.lit(0.0))
        & (F.col("_maxgap") > F.lit(0.1) * rng)
        & (F.col("_maxgap") > F.lit(2.0) * F.col("_secondgap"))
    )
    return step3.filter(~do_cut | (F.col("_rk") < F.col("_cutrk"))).drop(
        "_rk", "_gap", "_n", "_smax", "_smin", "_maxgap", "_cutrk", "_secondgap"
    )


# ---------------------------------------------------------------------------
# Q8 — reranker dispatch + cross-encoder; Q11 — window substitution; Q7
# ---------------------------------------------------------------------------


def fake_cross_encoder_expr(query: str, content: Column) -> Column:
    """Deterministic stand-in for a cross-encoder provider (tests/oracle;
    the reference tests do the same with scripted fake providers —
    SURVEY.md §5): score(query, content) = sha-derived uniform [0,1).
    Real providers plug in via ``rerank(scorer=...)`` as an Arrow-batched
    pandas UDF over the (query, content) pairs — the top-k DF is tiny, so
    the UDF cost is per-hit, never per-corpus."""
    return (
        F.conv(
            F.substring(F.sha2(F.concat(F.lit(query + "||"), content), 256), 1, 8), 16, 10
        ).cast("bigint")
        % 1000000
    ) / 1000000.0


def sql_fake_cross_encoder(query: str, content: str) -> str:
    q = query.replace("'", "''")
    return (
        f"(('0x' || substr(sha256('{q}' || '||' || {content}), 1, 8))::BIGINT % 1000000)"
        f" / 1000000.0"
    )


def rerank(
    hits: DataFrame,
    query: str,
    scorer: Column | None = None,
    top_n: int | None = None,
    id_col: str = "id",
    content_col: str = "content",
    keep_tail: bool = False,
) -> DataFrame:
    """Q8 CrossEncoderReranker (CrossEncoderReranker.cs:34-109): score the
    (query, content) pairs of the top hits; provider scores REPLACE the
    fused score. Optional ``top_n`` sends only the best-n fused hits to the
    provider; hits the provider returns no score for are DROPPED by default
    — the reference's behavior (only ``scoredHits`` reach ``rerankedHits``,
    CrossEncoderReranker.cs:71-99). ``keep_tail=True`` instead retains the
    below-top_n hits after the reranked block in fused order (their score
    stays the fused score; ordering is by the explicit ``rank`` column).
    Output keeps ``fused_score`` for inspection."""
    s = scorer if scorer is not None else fake_cross_encoder_expr(query, F.col(content_col))
    if top_n is None:
        return (
            hits.withColumnRenamed("score", "fused_score")
            .withColumn("score", s)
            .orderBy(F.desc("score"), F.col(id_col))
        )
    w_fused = Window.orderBy(F.desc("score"), F.col(id_col))
    pos = hits.withColumn("_fused_rk", F.row_number().over(w_fused))
    head = (
        pos.filter(F.col("_fused_rk") <= top_n)
        .withColumnRenamed("score", "fused_score")
        .withColumn("score", s)
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("score"), F.col(id_col))))
    )
    if not keep_tail:
        return head.drop("_fused_rk").orderBy("rank")
    tail = (
        pos.filter(F.col("_fused_rk") > top_n)
        .withColumnRenamed("score", "fused_score")
        .withColumn("score", F.col("fused_score"))
        .withColumn("rank", F.col("_fused_rk"))
    )
    return head.unionByName(tail).drop("_fused_rk").orderBy("rank")


def mmr_diversify(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_col: str | None = None,
    id_col: str = "id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — the diversity stage the vector-db ecosystem runs after
    retrieval, which the reference lacks: greedily select k hits
    maximizing ``lam·rel − (1−lam)·max_{s∈selected} cos(c, s)`` (step 1
    has no selected set, so its objective is ``lam·rel``). Ties break by
    ascending id, so the output is a pure function of the candidate set.

    Spark-first and UDF-free: the greedy loop unrolls into k plan steps
    (anti-join remaining × join selected → left-fold cosine → per-query
    ``row_number`` pick), all Catalyst expressions — the SAME left-fold
    dot product as :mod:`functions.vector`, so the DuckDB mirror's
    doubles are bit-identical and every argmax decision agrees. The
    quadratic kernel is GATED: candidates per query are the retrieval
    stage's top-N (bounded), so each step touches Q·N rows and the whole
    op costs k·N cosines per query — never a corpus scan. ``query_col``
    groups a batched candidate frame (N queries diversified in one
    plan); omitted, the frame is one query's hits.

    Output: (``query_col``?, rank 1..k, id, rel, mmr) — ``rel`` the
    input score, ``mmr`` the step objective, both rounded to 9 dp for
    hash-stable comparison (the DECISIONS use unrounded doubles).

    Each step's pick is plan-truncated (the pagerank/HITS
    ``_step_checkpoint`` discipline): the growing ``selected`` union is
    referenced twice per subsequent step (anti-join + similarity side),
    so without truncation the logical plan compounds 2× per step —
    measured as >100 Window nodes at k=5."""
    from connapse_spark.functions.vector import (
        l2norm_expr,
        paired_cosine_expr,
        to_double_array,
    )
    from connapse_spark.operators.links import _step_checkpoint

    q = [query_col] if query_col else []
    # per-candidate norm materialized ONCE, before the persist (r11): each
    # step's pair projection previously ran the full 3-fold cosine_expr per
    # (remaining × selected) pair, recomputing both sides' O(d) norms for
    # every pair — with the norm carried as a column the pair stage pays
    # one dot fold. Same FP operation order (dot/(na·nb)) → bit-identical.
    base = (
        candidates.select(
            *q,
            F.col(id_col).alias("id"),
            F.col(score_col).cast("double").alias("rel"),
            to_double_array(F.col(vec_col)).alias("emb"),
        )
        .withColumn("_ne", l2norm_expr(F.col("emb")))
        .persist()  # k steps re-read it; tiny (Q·N rows, the retrieval top-N)
    )
    w = Window.partitionBy(*q).orderBy(F.desc("m"), F.asc("id"))
    first = _step_checkpoint(
        base.withColumn("m", F.lit(lam) * F.col("rel"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
        .withColumn("rank", F.lit(1))
    )
    selected = first
    for step in range(2, k + 1):
        # exclusion is NULL-SAFE (eqNullSafe, not a key-equality anti-join):
        # a plain left_anti never matches a NULL id, so a selected NULL-id
        # candidate would stay in `remaining` and be picked at every
        # subsequent step. NULL is one key (the sim groupBy merges on it
        # too), so at most one NULL-id candidate is representable.
        sel_k = selected.select(
            *[F.col(c).alias(f"_s_{c}") for c in q], F.col("id").alias("_sid")
        )
        cond = F.col("id").eqNullSafe(F.col("_sid"))
        for c in q:
            cond = cond & (F.col(c) == F.col(f"_s_{c}"))
        remaining = base.join(sel_k, on=cond, how="left_anti")
        sel_slim = selected.select(
            *q, F.col("emb").alias("_semb"), F.col("_ne").alias("_nse")
        )
        joined = remaining.join(sel_slim, q) if q else remaining.crossJoin(sel_slim)
        sim = (
            joined.select(
                *q, "id", "rel", "emb", "_ne",
                paired_cosine_expr(
                    F.col("_ne"), F.col("_nse"), F.col("emb"), F.col("_semb")
                ).alias("_cs"),
            )
            .groupBy(*q, "id")
            .agg(
                F.first("rel").alias("rel"),  # constant within the group
                F.first("emb").alias("emb"),
                F.first("_ne").alias("_ne"),
                F.max("_cs").alias("_maxsim"),
            )
        )
        pick = _step_checkpoint(
            sim.withColumn(
                "m", F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("_maxsim")
            )
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk", "_maxsim")
            .withColumn("rank", F.lit(step))
        )
        selected = selected.unionByName(pick)
    # every step is _step_checkpoint-materialized, so the candidate cache
    # is no longer needed — release it (ADVICE r8: persists with no
    # unpersist path accumulate across bench runs)
    base.unpersist()
    return selected.select(
        *q,
        "rank",
        "id",
        F.round("rel", 9).alias("rel"),
        F.round("m", 9).alias("mmr"),
    ).orderBy(*q, "rank")


def keyword_facets(
    docs: DataFrame,
    query: str,
    facet_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Facet counts over the keyword match set — the result-page sidebar
    aggregation every search product pairs with its top-k list (the
    reference's A-family stops at container stats; this extends it to
    per-facet match counts + best score). One corpus scan (the SAME
    scoring expression as keyword_search, so the facet counts and the
    hit list can never disagree) + one partial-agg shuffle on the facet
    value — at 100 TB this is the map-side-combine shape, and the facet
    cardinality (languages, sources, domains) bounds the shuffle."""
    score = keyword_score_expr(F.col(text_col), query)
    # the match cut lives INSIDE the aggregates, not in a pre-group filter
    # (r11): filter(_s>0) pushed through the projection and re-ran the
    # full scoring expression (embedded tokenizer) a second time per row;
    # here _s materializes once and the conditional aggregates read the
    # attribute. Facets whose rows all score 0 aggregate to n_matches=0
    # and are cut post-agg — exactly the facets the pre-group filter
    # emptied out; positive facets count/max over the same row set.
    return (
        docs.select(F.col(facet_col).alias("facet"), score.alias("_s"))
        .groupBy("facet")
        .agg(
            F.count(F.when(F.col("_s") > 0.0, F.lit(1))).alias("n_matches"),
            F.round(
                F.max(F.when(F.col("_s") > 0.0, F.col("_s"))), 9
            ).alias("top_score"),
        )
        .filter(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), "facet")
    )


def sql_mmr_diversify(source_sql: str, k: int = 5, lam: float = 0.7) -> str:
    """DuckDB mirror of :func:`mmr_diversify` (single-query form):
    ``source_sql`` must select ``(id, rel, emb DOUBLE[])``; the k greedy
    steps unroll as chained CTEs with the same left-fold cosine and the
    same tie-break, so every argmax decision is bit-identical. ``lam``
    and ``1 - lam`` are embedded as the SAME Python-computed doubles the
    Spark expressions use. Selected ids are excluded with a NULL-SAFE
    ``ANTI JOIN … ON (id IS NOT DISTINCT FROM id)``, never ``NOT IN``: a
    NULL candidate id turns a NOT IN predicate NULL and silently empties
    the remaining set, and even a plain anti-join never matches NULL —
    re-picking a selected NULL-id row forever. This mirrors the Spark
    side's eqNullSafe exclusion exactly, so the two engines agree on
    NULL-id inputs too (at most one NULL-id candidate is representable)."""
    from connapse_spark.functions.vector import sql_cosine

    one_minus = 1.0 - lam
    parts = [
        f"cand AS MATERIALIZED ({source_sql})",
        # NULLS FIRST matches Spark's asc(id) tie-break (DuckDB defaults
        # NULLS LAST — a NULL-id row tying on m would otherwise pick
        # differently across engines)
        f"sel1 AS (SELECT id, rel, emb, {lam!r} * rel AS m, 1 AS rank "
        f"FROM cand ORDER BY m DESC, id NULLS FIRST LIMIT 1)",
    ]
    prev = "sel1"
    for i in range(2, k + 1):
        parts.append(
            f"sim{i} AS (SELECT c.id, c.rel, c.emb, "
            f"max({sql_cosine('c.emb', 's.emb')}) AS maxsim "
            f"FROM (SELECT c2.* FROM cand c2 ANTI JOIN {prev} s2 "
            f"ON (c2.id IS NOT DISTINCT FROM s2.id)) c, {prev} s "
            f"GROUP BY c.id, c.rel, c.emb)"
        )
        parts.append(
            f"pick{i} AS (SELECT id, rel, emb, "
            f"{lam!r} * rel - {one_minus!r} * maxsim AS m, {i} AS rank "
            f"FROM sim{i} ORDER BY m DESC, id NULLS FIRST LIMIT 1)"
        )
        parts.append(
            f"sel{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})"
        )
        prev = f"sel{i}"
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT rank, id, round(rel, 9) AS rel, round(m, 9) AS mmr
FROM {prev}
ORDER BY rank
""".strip()


def window_substitution(hits: DataFrame, content_col: str = "content") -> DataFrame:
    """Q11 SentenceWindow substitution (HybridSearchService.cs:13-28,154-157):
    post-rerank, replace content with metadata['window'] when present AND
    non-whitespace (the reference's IsNullOrWhiteSpace guard — an empty
    window must not blank the content) — the reranker scored the precise
    sentence; the LLM gets the window."""
    win = F.element_at(F.col("metadata"), "window")
    return hits.withColumn(
        content_col,
        F.when(win.isNotNull() & (F.trim(win) != ""), win).otherwise(F.col(content_col)),
    )


def resolve_mode(mode: str, enable_cross_model: bool) -> str:
    """Q7 cross-model override (HybridSearchService.cs:89-96): Semantic →
    Hybrid when cross-model search is on (keyword side is model-agnostic and
    covers documents embedded under legacy models)."""
    if enable_cross_model and mode == "Semantic":
        return "Hybrid"
    return mode


# ---------------------------------------------------------------------------
# Q9/Q12/Q13 — min-score, top-k, guards; full pipeline
# ---------------------------------------------------------------------------


def apply_min_score(hits: DataFrame, min_score: float) -> DataFrame:
    return hits.filter(f"score >= {spark_sql_literal(min_score)}")


def hybrid_search(
    docs: DataFrame,
    query: str,
    options: SearchOptions | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: Column | None = None,
    predicate: Column | None = None,
    dims: int = 64,
    vectors: DataFrame | None = None,
    keyword_index=None,
    vector_index=None,
) -> DataFrame:
    """End-to-end search over a corpus with text. Mirrors
    HybridSearchService.SearchAsync stage order.

    ``keyword_index`` (an ``operators.keyword_index.KeywordIndex``) is the
    serving configuration: the keyword branch then scores from the query
    terms' tf rows alone (the same write-time tf pair the batched tiers
    read; ``keyword_index.keyword_search_indexed``) — no corpus or token
    table read, and the whole served query runs as one Spark job — the way
    the reference serves keyword from the GIN index
    (KeywordSearchService.cs:73-91). Websearch syntax screens candidates
    from the tf rows and verifies them on the stored token arrays. Results are identical to the
    full-scan branch (the index is a physical structure, not a semantic
    change); ``hybrid_indexed``'s oracle pins row-equality to ``hybrid_cc``.

    ``vector_index`` (a ``plans.ivf.VectorIndex``) is the semantic branch's
    analogue: candidates come from the ``nprobe`` nearest inverted lists of
    the write-time IVF index instead of a full vector scan — the reference
    serves KNN through pgvector's ivfflat partial index the same way
    (VectorColumnManager.cs:14-194, PgVectorStore.cs:186-285). Scoring uses
    the SAME ``vector_knn`` cosine expression over the candidate subset, so
    with ``nprobe >= n_lists`` the output is row-equal to the brute branch
    (``hybrid_ann``'s oracle pins this); smaller ``nprobe`` trades recall
    for a |corpus|·nprobe/n_lists scan — at 100 TB the index table is
    written partitioned by list_id so the probe's ``IN`` filter is
    partition pruning. ``vector_index`` takes precedence over ``vectors``.

    The vector branch scans STORED vectors when ``vectors`` (id, embedding)
    is given — the reference architecture (chunk_vectors precomputed at
    ingest, Q2 never re-embeds the corpus; PgVectorStore.cs:186-285). A
    filter predicate on the docs side reaches the vector scan as a semi-join
    on id, like the reference AND-composing documentId/path filters into the
    KNN SQL. Without ``vectors`` the corpus is hash-embedded inline
    (ingest-less convenience path; per-query embedding cost — fine for tests,
    wrong at scale).

    Candidate depth: each branch retrieves exactly top_k before fusion,
    matching the reference (VectorSearchService.cs:75,
    KeywordSearchService.cs:65 both fetch TopK, then the fused pool is
    re-cut to TopK) — so the min-max/DBSF normalization statistics see the
    same candidate sets as the reference.
    """
    options = options or SearchOptions()
    if not query or not query.strip():  # Q13 empty-query guard
        return docs.select(
            F.col(id_col).alias("id"), F.lit(0.0).alias("score")
        ).limit(0)

    fetch_k = options.top_k
    base = docs if predicate is None else docs.filter(predicate)

    if options.mode in ("Semantic", "Hybrid"):
        qv = embed_py(query, dims)
        if vector_index is not None:
            # lists ranked over the bundle's driver-resident centroid rows:
            # no Spark job per query (the rows are collected on the
            # bundle's first probe)
            (probe_ids,) = vector_index.probe_lists([qv])
            cands = vector_index.index.filter(f"list_id IN ({spark_sql_values(probe_ids)})")
            if predicate is not None:
                allowed = base.select(F.col(id_col).alias("id"))
                cands = cands.join(F.broadcast(allowed), "id", "left_semi")
            # the index stores each row's norm (l2norm_expr of vec)
            v_hits = vector_knn(cands, qv, fetch_k, id_col="id", vec_col="vec", norm_col="norm")
        else:
            if vectors is not None:
                vecs = vectors
                if predicate is not None:
                    allowed = base.select(F.col(id_col).alias("id"))
                    vecs = vecs.join(F.broadcast(allowed), "id", "left_semi")
            else:
                vec_expr = vec_col if vec_col is not None else embed_expr(F.col(text_col), dims)
                vecs = base.select(F.col(id_col).alias("id"), vec_expr.alias("embedding"))
            v_hits = vector_knn(vecs, qv, fetch_k, id_col="id")
    if options.mode in ("Keyword", "Hybrid"):
        if options.websearch:
            # full tsquery semantics (phrases/negation/OR): served from
            # the write-time index when one is given and no predicate
            # narrows the candidate set (the indexed websearch tier has
            # no filter seam — a filtered websearch hybrid scans)
            # the indexed websearch tier cannot candidate-prune a group
            # with no positive term (negation matches 'almost everything')
            # — such queries FALL BACK to the scan tier instead of raising,
            # keeping the 'index is physical, results identical' contract
            groups = parse_websearch(query)
            index_servable = groups and all(
                any(not t.negated for t in g) for g in groups
            )
            if keyword_index is not None and predicate is None and index_servable:
                from connapse_spark.operators.keyword_index import (
                    keyword_search_websearch_indexed,
                )

                k_hits = keyword_search_websearch_indexed(
                    keyword_index.tokens,
                    keyword_index.tf_exact,
                    keyword_index.tf_stemmed,
                    query,
                    fetch_k,
                    stem_fn=keyword_index.stem_fn,
                )
            else:
                k_hits = keyword_search_websearch(
                    base, query, fetch_k, id_col=id_col, text_col=text_col
                )
                if id_col != "id":
                    k_hits = k_hits.withColumnRenamed(id_col, "id")
        elif keyword_index is not None:
            from connapse_spark.operators.keyword_index import keyword_search_indexed

            allowed = None
            if predicate is not None:
                allowed = base.select(F.col(id_col).alias("id"))
            k_hits = keyword_search_indexed(
                keyword_index.tokens,
                keyword_index.tf_exact,
                keyword_index.tf_stemmed,
                query,
                fetch_k,
                allowed=allowed,
                stem_fn=keyword_index.stem_fn,
            )
        else:
            k_hits = keyword_search(base, query, fetch_k, id_col=id_col, text_col=text_col)
            k_hits = k_hits.withColumnRenamed(id_col, "id") if id_col != "id" else k_hits

    if options.mode == "Semantic":
        fused = v_hits.withColumn("source", F.lit("vector"))
    elif options.mode == "Keyword":
        fused = k_hits.withColumn("source", F.lit("keyword"))
    elif options.fusion == "Rrf":
        fused = fuse_rrf(v_hits, k_hits, id_col="id")
    else:
        fused = fuse(v_hits, k_hits, options.fusion_alpha, options.fusion, id_col="id")

    # Reference stage order (HybridSearchService.cs:146-159):
    # min-score filter → AutoCut → top-k. Fused scores are never negative
    # (weights and normalized scores lie in [0, 1]; NaN passes a >= filter
    # anyway), so a min-score of 0 or less keeps every fused row.
    if options.mode != "Hybrid" or options.min_score > 0.0:
        fused = apply_min_score(fused, options.min_score)
    if options.auto_cut:
        fused = auto_cut(fused, id_col="id")
    return fused.orderBy(F.desc("score"), F.asc("id")).limit(options.top_k)


def hybrid_search_onepass(
    corpus: DataFrame,
    query: str,
    options: SearchOptions | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    predicate: Column | None = None,
    dims: int = 64,
) -> DataFrame:
    """Single-scan hybrid search over a CO-LOCATED corpus — one table
    carrying both the text and its embedding, the layout the chunk+vector
    batch sink writes (sources/sinks.py; reference ingest stores chunk and
    vector rows in the same transaction, IngestionPipeline.cs).

    The two-branch ``hybrid_search`` reads the corpus twice (vector scan ∥
    keyword scan — mirroring the reference's thread pair). Here both branch
    scores are computed in ONE JVM-codegen projection, and an Arrow-batched
    ``mapInPandas`` keeps each batch's top-k for EACH branch under the same
    (score desc, id asc) order the global cut uses — so the union of
    per-batch winners is a superset of both global top-k sets (exact, not
    approximate) while the scan emits ≤ 2k rows per ~10k-row Arrow batch.
    At 100 TB that halves the dominant cost (corpus IO) per query.

    Everything downstream of the pool is ONE linear lineage: the pooled
    candidates explode into (branch, score, id) entries, each branch's
    top-k cut is a branch-partitioned row_number, per-branch normalization
    rides branch-partitioned window aggregates (identical arithmetic to
    ``_minmax_sql``/``_dbsf_sql``), and the full-outer merge of
    ``fuse`` becomes a groupBy(id) pivot — the same union-of-ids with nulls
    for the missing side. No persist, no eager count: building the
    DataFrame launches zero jobs (plan-only consumers never scan), one
    action executes exactly one corpus scan, and nothing leaks a cached RDD
    per invocation. The post-pool shuffles move ≤ 2k·n_batches narrow rows.

    Branch semantics on the joined corpus: a row must have BOTH text and
    vector (inner-join layout). The two-branch form instead scans whatever
    each side table holds; with 1:1 doc↔vector coverage the results are
    identical.
    """
    options = options or SearchOptions()
    if not query or not query.strip():  # Q13 empty-query guard
        return corpus.select(
            F.col(id_col).alias("id"), F.lit(0.0).alias("score")
        ).limit(0)

    k = options.top_k
    base = corpus if predicate is None else corpus.filter(predicate)
    qv = embed_py(query, dims)
    # query norm folds driver-side (same FP order → same bits): two O(d)
    # folds per scanned row instead of three (r11)
    scored = base.select(
        F.col(id_col).alias("id"),
        F.expr(cosine_to_query_sql(spark_sql_double_array(vec_col), qv)).alias("vector_score"),
        keyword_score_expr(F.col(text_col), query).alias("keyword_score"),
    )
    id_type = scored.schema["id"].dataType.simpleString()
    out_schema = f"id {id_type}, vector_score double, keyword_score double"

    def _batch_topk(batches):
        import pandas as pd

        for pdf in batches:
            v = pdf.sort_values(
                ["vector_score", "id"], ascending=[False, True]
            ).head(k)
            kw = (
                pdf[pdf["keyword_score"] > 0.0]
                .sort_values(["keyword_score", "id"], ascending=[False, True])
                .head(k)
            )
            yield pd.concat([v, kw]).drop_duplicates(subset="id")

    pool = scored.mapInPandas(_batch_topk, schema=out_schema)

    # (branch, score, id) entries; the keyword branch keeps only score > 0
    # (matching keyword_cte), the vector branch keeps every candidate.
    entries = (
        pool.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("v").alias("branch"),
                        F.col("vector_score").alias("bscore"),
                        F.col("id"),
                    ),
                    F.struct(
                        F.lit("k").alias("branch"),
                        F.col("keyword_score").alias("bscore"),
                        F.col("id"),
                    ),
                )
            ).alias("e")
        )
        .select("e.branch", "e.bscore", "e.id")
        .filter((F.col("branch") == "v") | (F.col("bscore") > 0.0))
    )
    wb = Window.partitionBy("branch").orderBy(F.desc("bscore"), F.col("id"))
    ranked = entries.withColumn("rn", F.row_number().over(wb)).filter(
        F.col("rn") <= k
    )

    if options.mode == "Semantic":
        fused = ranked.filter(F.col("branch") == "v").select(
            F.col("id"), F.col("bscore").alias("score"), F.lit("vector").alias("source")
        )
    elif options.mode == "Keyword":
        fused = ranked.filter(F.col("branch") == "k").select(
            F.col("id"), F.col("bscore").alias("score"), F.lit("keyword").alias("source")
        )
    elif options.fusion == "Rrf":
        per_id = ranked.groupBy("id").agg(
            F.max(F.when(F.col("branch") == "v", F.col("rn"))).alias("_vr"),
            F.max(F.when(F.col("branch") == "k", F.col("rn"))).alias("_kr"),
        )
        rrf_v = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("_vr")), F.lit(0.0))
        rrf_k = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("_kr")), F.lit(0.0))
        in_v, in_k = F.col("_vr").isNotNull(), F.col("_kr").isNotNull()
        fused = per_id.select(
            F.col("id"),
            (rrf_v + rrf_k).alias("score"),
            F.coalesce(F.col("_vr"), F.lit(0)).cast("bigint").alias("vector_rank"),
            F.coalesce(F.col("_kr"), F.lit(0)).cast("bigint").alias("keyword_rank"),
            F.when(in_v & in_k, "both")
            .when(in_v, "vector")
            .otherwise("keyword")
            .alias("source"),
        )
    else:
        # Per-branch normalization with the exact arithmetic of
        # _minmax_sql / _dbsf_sql, over the same post-cut row
        # sets those helpers would see — just branch-partitioned.
        wbranch = Window.partitionBy("branch")
        if options.fusion == "ConvexCombination":
            mn = F.min("bscore").over(wbranch)
            mx = F.max("bscore").over(wbranch)
            normed = ranked.withColumn(
                "_ns",
                F.when(mx > mn, (F.col("bscore") - mn) / (mx - mn)).otherwise(
                    F.lit(1.0)
                ),
            )
        else:  # Dbsf: sorted sequential fold, bit-stable (see _dbsf_sql)
            normed = (
                ranked.withColumn(
                    "_ss", F.sort_array(F.collect_list("bscore").over(wbranch))
                )
                .withColumn("_n", F.size("_ss"))
                .withColumn(
                    "_mu",
                    F.aggregate("_ss", F.lit(0.0), lambda a, v: a + v) / F.col("_n"),
                )
                .withColumn(
                    "_sd",
                    F.sqrt(
                        F.aggregate(
                            "_ss",
                            F.lit(0.0),
                            lambda a, v: a + (v - F.col("_mu")) * (v - F.col("_mu")),
                        )
                        / F.col("_n")
                    ),
                )
                .withColumn(
                    "_ns",
                    F.when(
                        (F.col("_n") == 1) | (F.col("_sd") < 1e-9), F.lit(1.0)
                    ).otherwise(
                        F.least(
                            F.lit(1.0),
                            F.greatest(
                                F.lit(0.0),
                                (
                                    F.col("bscore")
                                    - (F.col("_mu") - F.lit(3.0) * F.col("_sd"))
                                )
                                / (F.lit(6.0) * F.col("_sd")),
                            ),
                        )
                    ),
                )
                .drop("_ss", "_mu", "_sd", "_n")
            )
        a = min(max(options.fusion_alpha, 0.0), 1.0)
        per_id = normed.groupBy("id").agg(
            F.max(F.when(F.col("branch") == "v", F.col("_ns"))).alias("_vs"),
            F.max(F.when(F.col("branch") == "k", F.col("_ns"))).alias("_ks"),
        )
        in_v, in_k = F.col("_vs").isNotNull(), F.col("_ks").isNotNull()
        fused = per_id.select(
            F.col("id"),
            (
                F.lit(a) * F.coalesce(F.col("_vs"), F.lit(0.0))
                + F.lit(1.0 - a) * F.coalesce(F.col("_ks"), F.lit(0.0))
            ).alias("score"),
            F.coalesce(F.col("_vs"), F.lit(0.0)).alias("vector_score"),
            F.coalesce(F.col("_ks"), F.lit(0.0)).alias("keyword_score"),
            F.when(in_v & in_k, "both")
            .when(in_v, "vector")
            .otherwise("keyword")
            .alias("source"),
        )

    fused = apply_min_score(fused, options.min_score)
    if options.auto_cut:
        fused = auto_cut(fused, id_col="id")
    return fused.orderBy(F.desc("score"), F.col("id")).limit(options.top_k)


def vector_knn_quantized(
    quantized: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    scale_col: str = "scale",
) -> DataFrame:
    """Exact-shape KNN over an int8-quantized index
    (functions/vector.quantize_expr): the query is quantized driver-side
    with the same symmetric scheme, the score is the INTEGER code dot
    product rescaled by both scales and normalized by the code norms —
    cosine of the dequantized vectors without materializing them. Same
    plan as vector_knn (scan → project → TakeOrderedAndProject), ~4× less
    index IO; ranking is approximate within quantization error.
    """
    amax = max(abs(x) for x in query_vec) or 1.0
    qscale = amax / 127.0
    qcodes = [int(round(x / qscale)) for x in query_vec] if amax > 0 else [0] * len(query_vec)
    qarr = F.array(*[F.lit(c) for c in qcodes])
    qnorm = sum(c * c for c in qcodes) ** 0.5
    codes = F.col(codes_col)
    idot = F.aggregate(
        F.zip_with(codes, qarr, lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    cnorm = F.sqrt(
        F.aggregate(
            F.transform(codes, lambda c: (c * c).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).cast("double")
    )
    score = F.when(
        (cnorm > 0.0) & (F.lit(qnorm) > 0.0),
        idot.cast("double") / (cnorm * F.lit(qnorm)),
    ).otherwise(F.lit(0.0))
    return (
        quantized.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def keyword_search_snippets(
    docs: DataFrame,
    query: str,
    k: int = 10,
    radius: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k keyword hits with a result EXCERPT: a 2·``radius``-char window
    starting just before the earliest occurrence of any query term
    (case-insensitive; earliest-match policy — a ts_headline-style
    best-fragment ranker would layer the proximity machinery on top, this
    is the fast default every result list renders).

    Output: (id, score, match_pos, excerpt) — match_pos is the 1-based
    char position of the earliest term (0 = no literal occurrence; the
    excerpt then starts at the beginning).

    Plan: the ranking is exactly keyword_search's; the excerpt is one
    map-side projection over the ≤k winning rows AFTER the limit — zero
    extra corpus scans beyond re-fetching the k winners' text."""
    hits = keyword_search(docs, query, k=k, id_col=id_col, text_col=text_col)
    return attach_snippet_excerpts(
        hits, docs, query, radius=radius, id_col=id_col, text_col=text_col
    )


def attach_snippet_excerpts(
    hits: DataFrame,
    docs: DataFrame,
    query: str,
    radius: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shared excerpt tail of the snippets tiers (r10 — factored out so
    the index-served ranking reuses it): join the ≤k winning (id, score)
    rows back to the documents for their text — a k-row point read; on a
    bloomed serving store that is an O(k)-file fetch — and compute the
    earliest-match window. Exactly keyword_search_snippets' output
    columns and ordering."""
    terms, _ = _query_term_pairs(query)
    with_text = hits.join(docs.select(F.col(id_col), F.col(text_col)), id_col)
    low = F.lower(F.col(text_col))
    sentinel = 2_147_483_647
    if terms:
        raw = F.least(
            *[
                F.when(F.instr(low, t) > 0, F.instr(low, t)).otherwise(
                    F.lit(sentinel)
                )
                for t in sorted(set(terms))
            ]
        )
    else:
        raw = F.lit(sentinel)
    pos = F.when(raw == sentinel, F.lit(0)).otherwise(raw).cast("int")
    return (
        with_text.withColumn("_pos", pos)
        .select(
            F.col(id_col),
            F.col("score"),
            F.col("_pos").cast("long").alias("match_pos"),
            F.expr(
                f"substring({text_col}, greatest(_pos - {radius}, 1), {2 * radius})"
            ).alias("excerpt"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
    )


def sql_keyword_search_snippets(
    query: str,
    k: int = 10,
    radius: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from connapse_spark import oracle

    terms, _ = _query_term_pairs(query)
    if terms:
        pos_terms = "least(" + ", ".join(
            f"CASE WHEN strpos(lower(d.{text_col}), '{t}') > 0 "
            f"THEN strpos(lower(d.{text_col}), '{t}') ELSE 2147483647 END"
            for t in sorted(set(terms))
        ) + ")"
    else:
        # mirror of the Spark side's empty-terms guard: no terms → no
        # literal occurrence, sentinel straight through (bare least() is
        # invalid SQL)
        pos_terms = "2147483647"
    return f"""
WITH hits AS ({oracle.keyword_sql(query, k=k)}),
j AS (
  SELECT hits.{id_col}, hits.score, d.{text_col},
         {pos_terms} AS rawpos
  FROM hits JOIN documents d ON hits.{id_col} = d.{id_col}
)
SELECT {id_col}, score,
       CAST(CASE WHEN rawpos = 2147483647 THEN 0 ELSE rawpos END AS BIGINT) AS match_pos,
       substring({text_col},
                 greatest((CASE WHEN rawpos = 2147483647 THEN 0 ELSE rawpos END) - {radius}, 1),
                 {2 * radius}) AS excerpt
FROM j ORDER BY score DESC, {id_col}
""".strip()


def batch_keyword_scores_merged(agg: DataFrame) -> DataFrame:
    """The ONE home of the batched keyword scoring math, over a
    PRE-MERGED (qid, id, n_exact, n_stem) frame: the reference's weighted
    ``raw / (raw + 1)`` squash (keyword_score_expr's ts_rank_cd proxy,
    same WEIGHT_EXACT/WEIGHT_STEMMED) and the score > 0 cut. The scan
    tier (:func:`keyword_search_many`), the tf-postings tier
    (``keyword_index.keyword_search_many_indexed``) and the fast hybrid's
    keyword branch all feed from it — a weight or squash change cannot
    silently fork one tier off the others' row-identical oracle
    contracts. Nulls in either count column mean "no rows of that config
    matched" (the old full-outer merge's null semantics) and coalesce
    to 0 exactly as before."""
    merged = agg.select(
        "qid",
        "id",
        (
            F.lit(WEIGHT_EXACT) * F.coalesce(F.col("n_exact"), F.lit(0))
            + F.lit(WEIGHT_STEMMED) * F.coalesce(F.col("n_stem"), F.lit(0))
        ).alias("raw"),
    )
    return merged.select(
        "qid", "id", (F.col("raw") / (F.col("raw") + F.lit(1.0))).alias("score")
    ).filter(F.col("score") > 0.0)


def tagged_keyword_agg(probe: DataFrame) -> DataFrame:
    """ONE (qid, id) aggregation over union-tagged probe rows
    (qid, id, cfg ∈ {'e','s'}, tf): conditional sums replace the r11
    shape's two per-config aggregations merged by a full-outer
    SortMergeJoin — guide §2.4, the same union-tag trick the websearch
    kernel already used. One Exchange instead of two, no join; a
    (qid, id) with no rows of a config gets a NULL sum, which is exactly
    the full-outer merge's null."""
    return probe.groupBy("qid", "id").agg(
        F.sum(F.when(F.col("cfg") == "e", F.col("tf"))).alias("n_exact"),
        F.sum(F.when(F.col("cfg") == "s", F.col("tf"))).alias("n_stem"),
    )


def rank_topk_per_qid(scored: DataFrame, k: int) -> DataFrame:
    """Shared (score desc, id) rank window + top-k cut for batched tiers;
    rank is 1-based."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def keyword_search_many(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """BATCHED keyword search: answer N queries in ONE job. The corpus
    tokenizes ONCE into (doc, term, tf) postings shared by every query;
    pass ``tokens`` (the write-time ``keyword_index.build_token_table``
    output) to skip even that — the batch then reads the pre-tokenized
    arrays instead of re-running the tokenizer over the text;
    each query contributes only its term rows to two small broadcast
    joins — so the per-query marginal cost is the matched-postings
    aggregation, not a scheduled Spark query. This is the batch-engine
    answer to per-query latency: at N queries the fixed scan/scheduling
    cost amortizes N ways (the regime BASELINE.md's "amortized batch"
    interpretation scores), exactly like knn_join on the vector side.

    Scoring is keyword_score_expr's, term for term (same weights, same
    rank/(rank+1) squash) — per-query results match keyword_search
    row-for-row (unit-pinned).

    Output: (qid, id, score, rank) — top ``k`` per query, rank 1-based."""
    from pyspark.sql.window import Window

    qe_rows, qs_rows = [], []
    for qid, qtext in queries:
        terms = sorted(set(tokenize_py(qtext)))
        for t in terms:
            qe_rows.append((qid, t))
        for st in sorted({stem_py(t) for t in terms}):
            qs_rows.append((qid, st))
    spark = docs.sparkSession

    # r12 (guide §2.3/§2.4): ONE corpus pass and ONE keyed exchange. The
    # r11 shape ran two exploded passes (exact + stemmed — two tokenizer
    # scans in the scan tier), aggregated EVERY corpus (id, term) pair
    # through an (id, term) exchange before the broadcast join dropped
    # non-query terms, then paid a second (qid, id) exchange per config
    # and a full-outer SMJ to merge. Here both configs ride one explode
    # of cfg-tagged structs, the broadcast join filters to query terms
    # BEFORE any exchange (matched occurrences only — at 100 TB that is
    # the difference between shuffling the corpus's whole distinct
    # (id, term) set and the batch's matched postings), and the tagged
    # (qid, id) aggregation produces both counts at once. Counting
    # matched occurrences ≡ summing per-(id, term) tfs over matched
    # terms, so n_exact/n_stem are bit-identical integers.
    if tokens is not None:
        toksrc = tokens.select(
            "id",
            F.col("tokens_exact").alias("_te"),
            F.col("tokens_stemmed").alias("_ts"),
        )
    else:
        # stemmed array derives from the exact tokens COLUMN (r11):
        # tokens_stemmed_expr(text) embeds a SECOND tokenizer run
        from connapse_spark.functions.text import stem_expr

        toksrc = docs.select(
            F.col(id_col).alias("id"),
            tokens_exact_expr(F.col(text_col)).alias("_te"),
        ).withColumn("_ts", F.transform(F.col("_te"), stem_expr))
    tag = lambda arr, cfg: F.transform(
        arr, lambda x: F.struct(F.lit(cfg).alias("cfg"), x.alias("term"))
    )
    tagged = (
        toksrc.select(
            "id",
            F.explode_outer(
                F.concat(tag(F.col("_te"), "e"), tag(F.col("_ts"), "s"))
            ).alias("_a"),
        )
        # explode_outer + isnotnull ≡ explode, dodging
        # InferFiltersFromGenerate's size()>0 pushdown (see above)
        .filter(F.col("_a").isNotNull())
        .select("id", F.col("_a.cfg").alias("cfg"), F.col("_a.term").alias("term"))
    )
    qboth = spark.createDataFrame(
        [(q, t, "e") for q, t in qe_rows] + [(q, s, "s") for q, s in qs_rows],
        "qid long, term string, cfg string",
    )
    matched = tagged.join(F.broadcast(qboth), ["term", "cfg"]).select(
        "qid", "id", "cfg", F.lit(1).cast("long").alias("tf")
    )
    return rank_topk_per_qid(
        batch_keyword_scores_merged(tagged_keyword_agg(matched)), k
    )


def sql_keyword_search_many(
    queries: list[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from connapse_spark.functions.text import sql_tokens_exact, sql_tokens_stemmed

    qe_vals, qs_vals = [], []
    for qid, qtext in queries:
        terms = sorted(set(tokenize_py(qtext)))
        qe_vals += [f"({qid}, '{t}')" for t in terms]
        qs_vals += [f"({qid}, '{st}')" for st in sorted({stem_py(t) for t in terms})]
    return f"""
WITH qe(qid, t) AS (VALUES {", ".join(qe_vals)}),
qs(qid, st) AS (VALUES {", ".join(qs_vals)}),
te AS (
  SELECT {id_col} AS id, t, count(*) AS tf
  FROM (SELECT {id_col}, unnest({sql_tokens_exact(text_col)}) AS t FROM documents)
  GROUP BY {id_col}, t
),
ts AS (
  SELECT {id_col} AS id, st, count(*) AS tf
  FROM (SELECT {id_col}, unnest({sql_tokens_stemmed(text_col)}) AS st FROM documents)
  GROUP BY {id_col}, st
),
ne AS (SELECT qid, id, sum(tf) AS n_exact FROM te JOIN qe USING (t) GROUP BY qid, id),
ns AS (SELECT qid, id, sum(tf) AS n_stem FROM ts JOIN qs USING (st) GROUP BY qid, id),
merged AS (
  SELECT coalesce(ne.qid, ns.qid) AS qid, coalesce(ne.id, ns.id) AS id,
         {WEIGHT_EXACT!r} * coalesce(n_exact, 0) + {WEIGHT_STEMMED!r} * coalesce(n_stem, 0) AS raw
  FROM ne FULL OUTER JOIN ns ON ne.qid = ns.qid AND ne.id = ns.id
),
scored AS (
  SELECT qid, id, raw / (raw + 1.0) AS score FROM merged WHERE raw / (raw + 1.0) > 0.0
),
ranked AS (
  SELECT qid, id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
  FROM scored
)
SELECT CAST(qid AS BIGINT) AS qid, id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k} ORDER BY qid, rank
""".strip()


def hybrid_search_many(
    corpus: DataFrame,
    queries: list[tuple[int, str]],
    top_k: int = 10,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    dims: int = 64,
    predicates: dict[int, Column] | None = None,
    keyword_index=None,
    websearch: bool = False,
) -> DataFrame:
    """BATCHED hybrid search: answer N (qid, query) pairs in ONE corpus
    scan — the amortized-batch regime BASELINE.md scores, extended from
    the keyword family (keyword_search_many) to the FULL hybrid pipeline
    (vector + keyword branches, per-branch top-k, min-max normalization,
    convex-combination fusion — hybrid_search_onepass semantics per qid,
    oracle-mirrored by a UNION of the single-query mirrors).

    Shared work is hoisted out of the per-query expressions: the corpus
    tokenizes ONCE (exact + stemmed arrays) and the embedding casts once;
    each query then adds one cosine fold and two array-containment counts
    over those shared columns — no re-tokenization, no extra scan. The
    per-query scores explode into (id, qid, vscore, kscore) rows and an
    Arrow-batched per-(batch, qid) top-k pre-cut bounds the post-scan
    shuffle to ≤ 2k·N rows per ~10k-row batch, exactly the onepass
    argument with a qid dimension: at 100 TB the corpus IO is paid once
    for the whole query batch instead of once per query.

    Empty/whitespace queries get onepass's Q13 treatment per qid: zero
    rows for that qid (not a vector-only ranking).

    ``predicates`` (qid → boolean Column over the corpus) narrows the
    corpus PER QUERY before either branch scores — filtered search in
    the batch regime. The masks evaluate in the same scan projection
    (one boolean array column), so a 20-query batch with 20 different
    filters still reads the corpus once; masked (id, qid) rows never
    enter the per-batch top-k.

    ``websearch=True`` (r9) gives every query in the batch full tsquery
    semantics (phrases/negation/OR) — the per-query keyword score
    becomes websearch_score_sql GATED by websearch_match_sql over the
    SAME shared token arrays, so the single-scan structure is unchanged:
    one corpus read, one expression pair per query. A doc that matches
    but scores 0 (only positive-free groups) never enters the keyword
    branch (match AND score > 0 — the gate the SQL mirror replicates).
    Queries that parse to no groups drop per qid, the Q13 analogue.
    """
    queries = [(q, t) for q, t in queries if t and t.strip()]
    if websearch:
        queries = [(q, t) for q, t in queries if parse_websearch(t)]
    if not queries:
        return _hybrid_many_empty(corpus, id_col)
    k = top_k
    if keyword_index is not None:
        # serve the token arrays from the write-time index instead of
        # re-tokenizing the text in the scan projection; at deployment
        # scale tokens is bucketed by id next to the corpus so this join
        # is co-located (no shuffle), and the scan drops the text column
        # entirely — the batched analogue of GIN serving. LEFT join:
        # corpus rows missing from the index (docs ingested after the
        # index build) keep serving the VECTOR branch — they just score 0
        # on keyword, matching single-query hybrid_search whose vector
        # branch is index-independent. An inner join would silently drop
        # them from both branches.
        empty = F.array().cast("array<string>")
        corpus = corpus.join(
            keyword_index.tokens.select(
                F.col("id").alias("__kid"),
                F.col("tokens_exact").alias("__te"),
                F.col("tokens_stemmed").alias("__ts"),
            ),
            F.col(id_col) == F.col("__kid"),
            "left",
        )
        te_expr = F.coalesce(F.col("__te"), empty)
        ts_expr = F.coalesce(F.col("__ts"), empty)
    else:
        # _ts derives from the _te COLUMN below (r11): a second
        # tokens_stemmed_expr(text) would run the tokenizer twice per
        # row in the scan projection (no codegen CSE across HOFs)
        te_expr = tokens_exact_expr(F.col(text_col))
        ts_expr = None
    base_cols = [
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("_v"),
        te_expr.alias("_te"),
    ]
    if ts_expr is not None:
        base_cols.append(ts_expr.alias("_ts"))
    if predicates:
        # evaluated against the ORIGINAL corpus columns, then projected
        base_cols.append(
            F.array(*[
                (predicates[qid] if qid in predicates else F.lit(True))
                .cast("boolean")
                for qid, _ in queries
            ]).alias("_oks")
        )
    base = corpus.select(*base_cols)
    if ts_expr is None:
        from connapse_spark.functions.text import stem_expr

        base = base.withColumn("_ts", F.transform(F.col("_te"), stem_expr))
    # row norm materialized ONCE and shared across the whole query batch
    # (r11): each per-query cosine_expr re-ran the row's O(d) norm fold —
    # 3·n_q folds per row; with the shared norm column and driver-side
    # query norms it is 1 + n_q. Boundary survives CollapseProject: _nv
    # is non-cheap and referenced by every per-query struct.
    base = base.withColumn("_nv", l2norm_expr(F.col("_v")))
    # query-side stemming must match the analyzer the served token arrays
    # were built with — the bundle carries it (r10; None = suffix default)
    stem = stem_py
    if keyword_index is not None and keyword_index.stem_fn is not None:
        stem = keyword_index.stem_fn
    per_q = []
    for i, (qid, qtext) in enumerate(queries):
        qvec = embed_py(qtext, dims)
        if websearch:
            groups = parse_websearch(qtext)
            kscore = F.expr(
                f"CASE WHEN {websearch_match_sql('_te', '_ts', groups, stem)} "
                f"THEN {websearch_score_sql('_te', '_ts', groups, stem)} ELSE 0.0D END"
            )
        else:
            terms = sorted(set(tokenize_py(qtext)))
            stems = sorted({stem(t) for t in terms})
            kscore = F.expr(keyword_score_sql("_te", "_ts", terms, stems))
        ok = F.col("_oks")[i] if predicates else F.lit(True)
        per_q.append(
            F.struct(
                F.lit(int(qid)).cast("int").alias("qid"),
                F.expr(cosine_to_query_sql("_v", qvec, norm_col="_nv")).alias("vector_score"),
                kscore.alias("keyword_score"),
                ok.alias("ok"),
            )
        )
    scored = (
        base.select("id", F.explode(F.array(*per_q)).alias("q"))
        .filter(F.col("q.ok"))
        .select("id", F.col("q.qid"), F.col("q.vector_score"), F.col("q.keyword_score"))
    )
    id_type = scored.schema["id"].dataType.simpleString()

    def _batch_topk(batches):
        import pandas as pd

        for pdf in batches:
            # vectorized per-(batch, qid) cut: one global sort + grouped
            # head per branch (a per-qid python loop costs ~10× at high N)
            v = (
                pdf.sort_values(
                    ["qid", "vector_score", "id"], ascending=[True, False, True]
                )
                .groupby("qid", sort=False)
                .head(k)
            )
            kw = (
                pdf[pdf["keyword_score"] > 0.0]
                .sort_values(
                    ["qid", "keyword_score", "id"], ascending=[True, False, True]
                )
                .groupby("qid", sort=False)
                .head(k)
            )
            yield pd.concat([v, kw]).drop_duplicates(subset=["qid", "id"])

    pool = scored.mapInPandas(
        _batch_topk,
        schema=f"id {id_type}, qid int, vector_score double, keyword_score double",
    )
    entries = (
        pool.select(
            "qid",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("v").alias("branch"),
                        F.col("vector_score").alias("bscore"),
                        F.col("id"),
                    ),
                    F.struct(
                        F.lit("k").alias("branch"),
                        F.col("keyword_score").alias("bscore"),
                        F.col("id"),
                    ),
                )
            ).alias("e"),
        )
        .select("qid", "e.branch", "e.bscore", "e.id")
        .filter((F.col("branch") == "v") | (F.col("bscore") > 0.0))
    )
    return _hybrid_many_fuse(entries, k, alpha, id_col)


def _hybrid_many_empty(corpus: DataFrame, id_col: str) -> DataFrame:
    """Zero-row frame in the batched-hybrid output schema — every query
    in the batch was empty/whitespace (Q13)."""
    return corpus.select(
        F.lit(0).cast("int").alias("qid"),
        F.col(id_col),
        F.lit(0.0).alias("score"),
        F.lit(0.0).alias("vector_score"),
        F.lit(0.0).alias("keyword_score"),
        F.lit("").alias("source"),
    ).limit(0)


def _hybrid_many_fuse(entries: DataFrame, k: int, alpha: float, id_col: str) -> DataFrame:
    """Shared per-qid fusion tail over (qid, branch, bscore, id) entries:
    branch top-k cut, min-max normalization, convex combination, final
    per-qid top-k — identical arithmetic to hybrid_search_onepass.

    r12 (guide §2.4 — share one exchange): every window/aggregate here
    rides ONE HashPartitioning(qid). The r11 shape exchanged three times
    (window by (qid, branch), groupBy (qid, id), window by qid); but a
    qid partitioning satisfies all three — the per-branch rank is the
    qid-ordered row_number minus the earlier branch's row count, the
    per-branch min/max are branch-conditional aggregates over the qid
    frame, and ClusteredDistribution(qid, id)/(qid) are both satisfied
    by hash(qid), so the merge aggregate and the final rank re-sort
    within partitions without shuffling. Arithmetic and tie-breaks are
    unchanged (same (bscore desc, id) order within each branch, same
    min/max frames after the rank cut), so scores are bit-identical."""
    wq_ord = Window.partitionBy("qid").orderBy(
        "branch", F.desc("bscore"), F.col("id")
    )
    wq_all = Window.partitionBy("qid")
    is_k = F.col("branch") == "k"
    # 'k' < 'v' lexicographically: k-branch rows rank first in wq_ord, so
    # a v-row's in-branch rank is its qid rank minus the qid's k count
    n_k = F.sum(is_k.cast("long")).over(wq_all)
    rn_b = F.row_number().over(wq_ord) - F.when(is_k, F.lit(0)).otherwise(n_k)
    ranked = entries.withColumn("rn", rn_b).filter(F.col("rn") <= k)
    mn = F.when(
        is_k, F.min(F.when(is_k, F.col("bscore"))).over(wq_all)
    ).otherwise(F.min(F.when(~is_k, F.col("bscore"))).over(wq_all))
    mx = F.when(
        is_k, F.max(F.when(is_k, F.col("bscore"))).over(wq_all)
    ).otherwise(F.max(F.when(~is_k, F.col("bscore"))).over(wq_all))
    normed = ranked.withColumn(
        "_ns", F.when(mx > mn, (F.col("bscore") - mn) / (mx - mn)).otherwise(F.lit(1.0))
    )
    a = min(max(alpha, 0.0), 1.0)
    per_id = normed.groupBy("qid", "id").agg(
        F.max(F.when(F.col("branch") == "v", F.col("_ns"))).alias("_vs"),
        F.max(F.when(F.col("branch") == "k", F.col("_ns"))).alias("_ks"),
    )
    in_v, in_k = F.col("_vs").isNotNull(), F.col("_ks").isNotNull()
    fused = per_id.select(
        "qid",
        F.col("id"),
        (
            F.lit(a) * F.coalesce(F.col("_vs"), F.lit(0.0))
            + F.lit(1.0 - a) * F.coalesce(F.col("_ks"), F.lit(0.0))
        ).alias("score"),
        F.coalesce(F.col("_vs"), F.lit(0.0)).alias("vector_score"),
        F.coalesce(F.col("_ks"), F.lit(0.0)).alias("keyword_score"),
        F.when(in_v & in_k, "both").when(in_v, "vector").otherwise("keyword").alias("source"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("score"), F.col("id"))
    return (
        fused.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= k)
        .select(
            "qid",
            F.col("id").alias(id_col),
            "score",
            "vector_score",
            "keyword_score",
            "source",
        )
        .orderBy("qid", F.desc("score"), F.col(id_col))
    )


def hybrid_search_many_fast(
    corpus: DataFrame,
    queries: list[tuple[int, str]],
    top_k: int = 10,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    dims: int = 64,
    predicates: dict[int, Column] | None = None,
    tf_postings: tuple[DataFrame, DataFrame] | None = None,
    vector_index=None,
    websearch: bool = False,
    positions_postings: tuple[DataFrame, DataFrame] | None = None,
    stem_fn=None,
) -> DataFrame:
    """PRODUCTION tier of :func:`hybrid_search_many` — identical
    semantics, kernels built for N: per-query JVM folds are interpreted
    higher-order functions whose cost is O(corpus·N·d), which is exactly
    what flattened the oracle tier's amortization curve at ~260 ms/query.
    Here:

    * vector branch: ONE BLAS matmul per Arrow batch against the
      broadcast N×d query matrix (embed once, driver-side), then a
      vectorized per-(batch, query) top-k — the scan does real linear
      algebra instead of N interpreted folds;
    * keyword branch: the postings-join shape of keyword_search_many
      (tokenize once → (id, term, tf) → broadcast-join the query term
      tables → per-(id, qid) integer sums) — set-based, zero per-query
      expressions, bit-identical scores to the oracle tier (integer
      math);
    * both feed the SAME `_hybrid_many_fuse` tail.

    FP caveat: BLAS accumulation order differs from the sequential
    fold in the last ulp, so vector scores are allclose-not-bit-equal
    to the oracle tier; per-query RANKINGS are unit-pinned equal
    (tests/test_round4.py). Use the oracle tier when bit-exactness
    matters; use this one to answer query batches.

    ``predicates`` (qid → boolean Column over the corpus) narrows the
    corpus per query: the vector branch masks the score matrix per Arrow
    batch (the mask array rides the same scan); the keyword branch
    semi-joins its (qid, id) scores against allowed pairs produced by a
    separate COLUMN-PRUNED pass (id + the predicate's columns only — a
    narrow metadata-weight scan next to the tokenization scans, and the
    shuffled volume is the predicate-selected pairs, not corpus×N).

    ``tf_postings`` = (tf_exact, tf_stemmed) from
    ``keyword_index.build_tf_postings`` — the write-time (term, id, tf)
    materialization. When given, the keyword branch skips the corpus
    tokenize + two aggregations entirely and probes the postings pruned
    to the batch's query terms (literal IN-filters that reach the
    parquet scan on a term-sorted layout). Integer tf math is identical,
    so scores are bit-equal to the scan-tier keyword branch. Index
    semantics match the fold tier's ``keyword_index`` contract: rows
    missing from a stale index still rank through the vector branch
    (that branch always scans ``corpus``), they just contribute no
    keyword score until reindex.

    ``vector_index`` (a ``plans.ivf.VectorIndex``) is the vector branch's
    serving structure, batched: probe lists are ranked driver-side ONCE per
    query against the bundle's driver-resident centroid rows, the index scan is pruned to
    the UNION of the batch's probed lists (a literal ``list_id IN`` that is
    partition pruning on the list_id-partitioned layout), and each query's
    score column is masked to ITS probe set inside the Arrow kernel — so a
    batch of 20 queries at nprobe 3 of 100 lists scans ≤60% of the index
    once instead of the whole corpus, and per-query candidates match the
    single-query ``hybrid_search(vector_index=…)`` exactly. With
    ``nprobe >= n_lists`` candidates are the whole corpus and this tier is
    bit-equal to the brute fast tier (same BLAS kernel). Per-query
    ``predicates`` compose: the ok-mask columns are joined onto the pruned
    index by id (the predicate lives on corpus columns).

    ``websearch=True`` (r10 — VERDICT r9 ask #3) gives every query in the
    batch FULL tsquery semantics (phrases/negation/OR) in THIS tier: the
    keyword branch swaps to ``keyword_index.websearch_scores_indexed`` —
    set-based match gating + scoring over the tf postings plus (for
    phrase atoms) ``positions_postings`` from
    ``keyword_index.build_positions_postings``; per-query expressions run
    only over the candidate-bounded frame, never the corpus, and keyword
    doubles stay bit-equal to the oracle tier. When the postings aren't
    supplied they derive from one corpus tokenize (correct, slower — the
    serve regime passes write-time tables). The vector branch is the
    same BLAS kernel either way; queries parsing to no groups drop per
    qid (Q13, mirroring the oracle tier)."""
    import numpy as np

    queries = [(q, t) for q, t in queries if t and t.strip()]  # Q13 per qid
    if websearch:
        queries = [(q, t) for q, t in queries if parse_websearch(t)]
        # >63-atom queries exceed the indexed tier's presence-bitmask
        # width; route THEM to the per-query-expression oracle tier and
        # keep the rest of the batch on the fast path (r11 — VERDICT r10
        # ask #6: previously websearch_scores_indexed raised and the
        # CALLER had to know about tier routing). Both tiers share the
        # fusion tail's schema/ordering contract, so the union re-sorts
        # into the same (qid, score desc, id) order; keyword doubles are
        # bit-equal across tiers by construction.
        big = [
            (q, t)
            for q, t in queries
            if sum(len(g) for g in parse_websearch(t)) > 63
        ]
        if big and stem_fn is not None:
            # the oracle tier scans with the DEFAULT analyzer; silently
            # routing a porter2 batch there would mis-stem its queries
            raise ValueError(
                "websearch query exceeds 63 atoms and a custom stem_fn is "
                "set: the oracle-tier fallback stems with the default "
                "analyzer — split the batch yourself or shorten the query"
            )
        if big:
            big_ids = {q for q, _ in big}
            small = [(q, t) for q, t in queries if q not in big_ids]
            parts = []
            if small:
                parts.append(
                    hybrid_search_many_fast(
                        corpus, small, top_k=top_k, alpha=alpha,
                        id_col=id_col, text_col=text_col, vec_col=vec_col,
                        dims=dims, predicates=predicates,
                        tf_postings=tf_postings, vector_index=vector_index,
                        websearch=True,
                        positions_postings=positions_postings,
                        stem_fn=stem_fn,
                    )
                )
            parts.append(
                hybrid_search_many(
                    corpus, big, top_k=top_k, alpha=alpha, id_col=id_col,
                    text_col=text_col, vec_col=vec_col, dims=dims,
                    predicates=predicates, websearch=True,
                )
            )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.orderBy("qid", F.desc("score"), F.col(id_col))
    if not queries:
        return _hybrid_many_empty(corpus, id_col)
    k = top_k
    Q = np.array([embed_py(q, dims) for _, q in queries], dtype=np.float64)
    qids_arr = [int(q) for q, _ in queries]
    ok_arr = (
        F.array(*[
            (predicates[qid] if qid in predicates else F.lit(True)).cast("boolean")
            for qid, _ in queries
        ])
        if predicates
        else None
    )

    probe_sets: list | None = None
    if vector_index is not None:
        probes = vector_index.probe_lists([qv.tolist() for qv in Q])
        probe_sets = [np.array(p) for p in probes]
        union_lists = sorted({int(l) for p in probes for l in p})
        idx = vector_index.index.filter(F.col("list_id").isin(union_lists))
        base_v = idx.select(
            "id", F.col("vec").alias("_v"), F.col("list_id").alias("_lid")
        )
        if ok_arr is not None:
            base_v = base_v.join(
                corpus.select(F.col(id_col).alias("id"), ok_arr.alias("_oks")),
                "id",
            )
    else:
        base_cols = [
            F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("_v")
        ]
        if ok_arr is not None:
            base_cols.append(ok_arr.alias("_oks"))
        base_v = corpus.select(*base_cols)
    id_type = base_v.schema["id"].dataType.simpleString()

    def _vec_topk(batches):
        import numpy as np
        import pandas as pd

        qn = np.sqrt((Q * Q).sum(axis=1))
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["_v"].tolist(), dtype=np.float64)
            en = np.sqrt((E * E).sum(axis=1))
            S = E @ Q.T
            denom = en[:, None] * qn[None, :]
            S = np.divide(S, denom, out=np.zeros_like(S), where=denom > 0)
            ids = pdf["id"].to_numpy()
            OK = (
                np.array(pdf["_oks"].tolist(), dtype=bool)
                if "_oks" in pdf.columns
                else None
            )
            LID = pdf["_lid"].to_numpy() if "_lid" in pdf.columns else None
            out_id: list = []
            out_qid: list = []
            out_s: list = []
            for j in range(S.shape[1]):
                m = None
                if OK is not None:
                    m = OK[:, j]
                if LID is not None:
                    ml = np.isin(LID, probe_sets[j])
                    m = ml if m is None else (m & ml)
                col, sel_ids = S[:, j], ids
                if m is not None:
                    if not m.any():
                        continue
                    col, sel_ids = col[m], ids[m]
                kk = min(k, len(sel_ids))
                idx = np.lexsort((sel_ids, -col))[:kk]  # score desc, id asc
                out_id.extend(sel_ids[idx].tolist())
                out_qid.extend([qids_arr[j]] * len(idx))
                out_s.extend(col[idx].tolist())
            yield pd.DataFrame({"id": out_id, "qid": out_qid, "bscore": out_s})

    v_entries = base_v.mapInPandas(
        _vec_topk, schema=f"id {id_type}, qid int, bscore double"
    ).select("qid", F.lit("v").alias("branch"), "bscore", "id")

    spark = corpus.sparkSession
    if websearch:
        from connapse_spark.operators import keyword_index as ki

        if positions_postings is not None:
            pos_e, pos_s = positions_postings
        else:
            # ONE corpus tokenize pipeline serves both structures in the
            # fallback (r11 — previously the tf and positions builds each
            # ran their own tokenize pass, doubling the dominant cost):
            # positions build here, tf derived from them below
            from connapse_spark.functions.text import stem_expr as _stem_x

            toks_ws = corpus.select(
                F.col(id_col).alias("id"),
                tokens_exact_expr(F.col(text_col)).alias("tokens_exact"),
            ).withColumn(
                # derive from the exact COLUMN — one tokenizer run (r11)
                "tokens_stemmed",
                F.transform(F.col("tokens_exact"), _stem_x),
            )
            pos_e = ki.build_positions_postings(toks_ws, "tokens_exact")
            pos_s = ki.build_positions_postings(toks_ws, "tokens_stemmed")
        if tf_postings is not None:
            tf_e, tf_s = tf_postings
        else:
            # tf IS size(positions) — per-(term, id) occurrence counts,
            # identical to build_tf_postings; identical aggregation
            # subtrees also let AQE reuse the positions Exchange instead
            # of re-shuffling (and with SUPPLIED positions this path
            # touches the corpus zero times)
            tf_e = pos_e.select("term", "id", F.size("positions").alias("tf"))
            tf_s = pos_s.select("term", "id", F.size("positions").alias("tf"))
        k_entries = ki.websearch_scores_indexed(
            tf_e, tf_s, pos_e, pos_s, queries, stem_fn=stem_fn
        ).select(
            "qid", F.lit("k").alias("branch"), F.col("score").alias("bscore"), "id"
        )
    else:
        # r12 (guide §2.3/§2.4): union-tagged single (qid, id)
        # aggregation, mirroring keyword_search_many /
        # keyword_search_many_indexed — one Exchange instead of two per
        # config plus the full-outer SMJ merge; in the scan branch the
        # broadcast join now also drops non-query terms BEFORE any
        # exchange instead of aggregating the corpus's whole (id, term)
        # set first. Counts/sums are bit-identical integers either way.
        _stem = stem_py if stem_fn is None else stem_fn
        qe_rows, qs_rows = [], []
        for qid, qtext in queries:
            terms = sorted(set(tokenize_py(qtext)))
            qe_rows += [(int(qid), t) for t in terms]
            qs_rows += [(int(qid), st) for st in sorted({_stem(t) for t in terms})]
        qboth_df = spark.createDataFrame(
            [(q, t, "e") for q, t in qe_rows] + [(q, s, "s") for q, s in qs_rows],
            "qid int, term string, cfg string",
        )
        if tf_postings is not None:
            tf_e, tf_s = tf_postings
            # prune the postings scan to the batch's term set BEFORE the
            # broadcast join fans rows out per qid (list-form isin compiles
            # to false on an empty batch-term set rather than erroring)
            all_terms = sorted({t for _, t in qe_rows})
            all_stems = sorted({s for _, s in qs_rows})
            probe = (
                tf_e.filter(F.col("term").isin(all_terms))
                .withColumn("cfg", F.lit("e"))
                .unionByName(
                    tf_s.filter(F.col("term").isin(all_stems)).withColumn(
                        "cfg", F.lit("s")
                    )
                )
            )
        else:
            from connapse_spark.functions.text import stem_expr as _stem_x

            toks = corpus.select(
                F.col(id_col).alias("id"),
                tokens_exact_expr(F.col(text_col)).alias("_te"),
            ).withColumn(
                # derive from the exact COLUMN — one tokenizer run (r11)
                "_ts", F.transform(F.col("_te"), _stem_x)
            )
            _tag = lambda arr, cfg: F.transform(
                arr, lambda x: F.struct(F.lit(cfg).alias("cfg"), x.alias("term"))
            )
            # explode_outer + isnotnull: a plain explode's inferred
            # size()>0 filter pushes through the projection and re-runs
            # the tokenizer per row (r11 — see keyword_search_many)
            probe = (
                toks.select(
                    "id",
                    F.explode_outer(
                        F.concat(_tag(F.col("_te"), "e"), _tag(F.col("_ts"), "s"))
                    ).alias("_a"),
                )
                .filter(F.col("_a").isNotNull())
                .select(
                    "id",
                    F.col("_a.cfg").alias("cfg"),
                    F.col("_a.term").alias("term"),
                    F.lit(1).cast("long").alias("tf"),
                )
            )
        matched = probe.join(F.broadcast(qboth_df), ["term", "cfg"]).select(
            "qid", "id", "cfg", "tf"
        )
        k_entries = batch_keyword_scores_merged(tagged_keyword_agg(matched)).select(
            "qid", F.lit("k").alias("branch"), F.col("score").alias("bscore"), "id"
        )
    if ok_arr is not None:
        # allowed (qid, id) pairs, filtered in the scan projection — the
        # shuffled volume is the predicate-selected pairs, not corpus×N
        qid_lookup = F.array(*[F.lit(int(q)) for q, _ in queries])
        allowed = (
            corpus.select(
                F.col(id_col).alias("id"),
                F.posexplode(ok_arr).alias("qpos", "ok"),
            )
            .filter(F.col("ok"))
            .select(qid_lookup[F.col("qpos")].alias("qid"), "id")
        )
        k_entries = k_entries.join(allowed, ["qid", "id"], "left_semi")
    return _hybrid_many_fuse(v_entries.unionByName(k_entries), k, alpha, id_col)


def sql_hybrid_search_many(
    queries: list[tuple[int, str]],
    top_k: int = 10,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    wheres: dict[int, str] | None = None,
    id_sql_type: str = "BIGINT",
    websearch: bool = False,
) -> str:
    """Mirror: UNION ALL of the single-query onepass mirrors, qid-tagged —
    each parenthesized block is a full CTE-prefixed statement (DuckDB
    allows that), so the batched path is checked against N independent
    runs of the already-verified single-query oracle. ``wheres`` maps a
    qid to the SQL predicate mirroring that query's ``predicates``
    Column. Empty/whitespace queries are dropped per qid — the same Q13
    guard both Spark tiers apply — so the mirror cannot return a
    vector-only ranking the implementation refuses to produce."""
    from connapse_spark import oracle

    queries = [(q, t) for q, t in queries if t and t.strip()]
    if websearch:
        queries = [(q, t) for q, t in queries if parse_websearch(t)]
    if not queries:
        # typed zero-row frame: id type parameterized (string-id corpora),
        # scores cast DOUBLE so even the empty schema mirrors the tiers
        return (
            f"SELECT CAST(0 AS INT) AS qid, CAST(NULL AS {id_sql_type}) AS {id_col}, "
            "CAST(0.0 AS DOUBLE) AS score, CAST(0.0 AS DOUBLE) AS vector_score, "
            "CAST(0.0 AS DOUBLE) AS keyword_score, '' AS source WHERE 1 = 0"
        )
    parts = [
        f"SELECT CAST({qid} AS INT) AS qid, * FROM ("
        + oracle.hybrid_onepass_sql(
            qtext,
            top_k=top_k,
            alpha=alpha,
            id_col=id_col,
            where=(wheres or {}).get(qid),
            websearch=websearch,
        )
        + ")"
        for qid, qtext in queries
    ]
    return (
        "\nUNION ALL\n".join(parts)
        + f"\nORDER BY qid, score DESC, {id_col}"
    )
