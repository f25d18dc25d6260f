"""Keyword (inverted / posting-list) index — the batch analogue of the
reference's GIN index on the generated tsvector column
(KnowledgeDbContext.cs:232-245): pay tokenization at WRITE time, then a
selective query touches only the posting rows of its own terms instead of
scanning every document.

Build (one shuffle on (term, id)):
    tf(term, id, tf)   — per exact/stemmed config (:func:`build_tf_postings`)

Query path (the common case at 100 TB):
    query terms → term-pruned scan of the tf rows (a literal IN filter;
    the committed table is sorted by term so the lookup prunes row
    groups) → one single-partition aggregate of the matched tf per id →
    rank/(rank+1) normalize → top-k. No token row is read; only the
    websearch tier goes back to the token table, to verify phrases.

The same tf rows serve the batched tiers, so one posting store backs
every keyword query. Scoring is identical to
operators.search.keyword_score_expr (weight A=1.0 exact, B=0.4 stemmed,
rank/(rank+1) — the documented ts_rank_cd(…,32) simplification), so the
full-scan path and the indexed path return the SAME hits — the index is
a physical structure, not a semantic change. That invariant is what the
oracle checks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connapse_spark.functions.text import (
    sql_tokens_exact,
    sql_tokens_stemmed,
    stem_py,
    tokenize_py,
    tokens_exact_expr,
)
from connapse_spark.functions.vector import bind_once as _bind, spark_sql_values
from connapse_spark.operators.search import (
    WEIGHT_EXACT,
    WEIGHT_STEMMED,
    keyword_squash_sql,
)


def build_token_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stemmer: str = "suffix",
) -> DataFrame:
    """Write-time tokenization (the 'generated column' trade): one row per
    doc with both token arrays. Persist next to the documents table.

    ``stemmer`` picks the weight-B analyzer: ``"suffix"`` (default) is the
    oracle-pinned JVM suffix-stripper; ``"porter2"`` is the full Snowball
    English stemmer (functions/porter2.py — Postgres 'english' dictionary
    parity), one Arrow-batched pandas UDF over the exact-token array. The
    whole downstream serving stack (tf/positions/doclen builds, upsert
    twins, indexed query tiers) is stemmer-agnostic: it reads THIS table's
    columns, so an index built with either analyzer maintains and serves
    identically — pass the matching ``stem_fn`` on query tiers that stem
    query terms driver-side."""
    exact = tokens_exact_expr(F.col(text_col))
    if stemmer == "porter2":
        # mapInPandas, not a column UDF: downstream consumers explode these
        # arrays, and CollapseProject would inline a pandas-UDF column into
        # the generator/exchange expression where it cannot evaluate; the
        # map node materializes tokens_stemmed as a real attribute. Still
        # one Arrow-batched pass, JVM tokenization reused as the input col.
        from pyspark.sql.types import ArrayType, StringType, StructField, StructType

        from connapse_spark.functions.porter2 import porter2_stem

        base = docs.select(F.col(id_col).alias("id"), exact.alias("tokens_exact"))
        schema = StructType(
            list(base.schema.fields)
            + [StructField("tokens_stemmed", ArrayType(StringType()))]
        )

        def _stem_batches(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["tokens_stemmed"] = pdf["tokens_exact"].map(
                    lambda arr: None
                    if arr is None
                    else [porter2_stem(t) for t in arr]
                )
                yield pdf

        return base.mapInPandas(_stem_batches, schema)
    if stemmer != "suffix":
        raise ValueError(f"unknown stemmer {stemmer!r}: use 'suffix' or 'porter2'")
    # tokens_stemmed derives from the tokens_exact COLUMN, not from text:
    # tokens_stemmed_expr(text) would run the full tokenizer a second
    # time per row (the two subtrees sit in one projection but codegen's
    # subexpression elimination does not fuse them — measured 1.35× at
    # sf0.1, r11). CollapseProject keeps the boundary: tokens_exact is
    # non-cheap and referenced twice.
    from connapse_spark.functions.text import stem_expr

    return docs.select(
        F.col(id_col).alias("id"), exact.alias("tokens_exact")
    ).withColumn("tokens_stemmed", F.transform(F.col("tokens_exact"), stem_expr))


def _term_ids(tokens: DataFrame, token_col: str) -> DataFrame:
    """(id, term) once per distinct term of each token row."""
    return tokens.select(
        "id", F.explode_outer(F.array_distinct(F.col(token_col))).alias("term")
    ).filter(F.col("term").isNotNull())


def build_postings(
    tokens: DataFrame, token_col: str = "tokens_exact"
) -> DataFrame:
    """Id-list posting table: term → sorted id array + document frequency
    — the Q3 maintenance operator's layout (:func:`upsert_postings`).
    The serving path does not read it: every keyword tier draws its
    candidates from the tf rows (:func:`build_tf_postings`)."""
    return (
        _term_ids(tokens, token_col)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"), F.count(F.lit(1)).alias("df"))
    )


@dataclass
class KeywordIndex:
    """The write-time keyword index bundle: the tokenized corpus plus one
    (term, id, tf) table per config — the repo analogue of the reference's
    GIN index over the generated tsvector column
    (KnowledgeDbContext.cs:232-245, served by KeywordSearchService.cs:73-91).
    The tf pair is the same one the batched tiers serve from
    (``load_serving(...)["tf_postings"]``). Build once at ingest with
    :func:`build_keyword_index`; pass to ``hybrid_search(keyword_index=…)``
    so a plain keyword query is scored from the query terms' tf rows
    alone instead of scanning and re-tokenizing every document. The
    token table serves the websearch tier, which verifies phrases on the
    candidates' stored arrays."""

    tokens: DataFrame  # (id, tokens_exact, tokens_stemmed)
    tf_exact: DataFrame  # (term, id, tf)
    tf_stemmed: DataFrame  # (term, id, tf)
    # the analyzer the stemmed config was built with (None = the default
    # suffix stripper): the bundle CARRIES its stemmer so every consumer
    # (hybrid_search's indexed keyword branch, the snippets tier) stems
    # query terms with the matching function automatically — a
    # porter2-built index cannot be silently mis-served through the bundle
    stem_fn: "object" = None

    def persist(self) -> "KeywordIndex":
        for df in (self.tokens, self.tf_exact, self.tf_stemmed):
            df.persist()
        return self

    def unpersist(self) -> "KeywordIndex":
        for df in (self.tokens, self.tf_exact, self.tf_stemmed):
            df.unpersist()
        return self


def build_keyword_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stemmer: str = "suffix",
) -> KeywordIndex:
    """One-stop ingest-time build: token table + both tf tables. At
    deployment scale, write all three partitioned/sorted (tokens bucketed by
    id for the websearch tier's candidate join; tf rows sorted by term for
    pruned lookups, as ``ingest_serving`` commits them).
    ``stemmer`` selects the weight-B analyzer (see
    :func:`build_token_table`); the bundle records the matching query-side
    stem function so consumers stay coherent automatically."""
    tokens = build_token_table(docs, id_col=id_col, text_col=text_col, stemmer=stemmer)
    stem_fn = None
    if stemmer == "porter2":
        from connapse_spark.functions.porter2 import porter2_stem

        stem_fn = porter2_stem
    return KeywordIndex(
        tokens=tokens,
        tf_exact=build_tf_postings(tokens, "tokens_exact"),
        tf_stemmed=build_tf_postings(tokens, "tokens_stemmed"),
        stem_fn=stem_fn,
    )


def build_tf_postings(
    tokens: DataFrame, token_col: str = "tokens_exact"
) -> DataFrame:
    """Term-frequency postings: (term, id, tf) — the write-time layout that
    serves keyword scoring, single-query and BATCHED (keyword_search_many's
    per-(id, term) aggregation, materialized once at ingest instead of
    recomputed per query). Stored sorted by term (every serving-layout
    commit sorts each file by (kind, term)): a lookup reads only its query
    terms' row groups. This is the GIN-with-positions
    trade: postings with payload cost more to store, serve in one join."""
    # explode_outer + isnotnull ≡ explode, but InferFiltersFromGenerate does
    # not fire for OUTER explodes — for a plain explode it adds
    # size(tokens)>0 under the Generate, and predicate pushdown substitutes
    # the alias through the projection, re-running the full tokenizer per
    # row in the inferred Filter (r11; the isnotnull lands on the GENERATED
    # attribute, which cannot push below the Generate).
    return (
        tokens.select("id", F.explode_outer(F.col(token_col)).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term", "id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def build_positions_all(tokens: DataFrame) -> DataFrame:
    """Both configs' positions postings as one kind-partitionable frame
    (kind ∈ exact|stemmed, term, id, positions) — the layout every
    positions writer commits (serving table, pending delta)."""
    return (
        build_positions_postings(tokens, "tokens_exact")
        .withColumn("kind", F.lit("exact"))
        .unionByName(
            build_positions_postings(tokens, "tokens_stemmed").withColumn(
                "kind", F.lit("stemmed")
            )
        )
        .select("kind", "term", "id", "positions")
    )


def build_tf_all(tokens: DataFrame) -> DataFrame:
    """Both configs' tf postings plus the doclen rows as one
    kind-partitionable frame (kind ∈ exact|stemmed|doclen, term, id, tf)
    — the rows of the ``tf_postings`` serving table and of its pending
    delta. Doclen rides the tf table so BM25 reads tf and lengths from
    one commit (see :func:`read_doclen`)."""
    return (
        build_tf_postings(tokens, "tokens_exact")
        .withColumn("kind", F.lit("exact"))
        .unionByName(
            build_tf_postings(tokens, "tokens_stemmed").withColumn(
                "kind", F.lit("stemmed")
            )
        )
        .select("kind", "term", "id", "tf")
        .unionByName(doclen_partition_rows(build_doclen_table(tokens)))
    )


def build_positions_postings(
    tokens: DataFrame, token_col: str = "tokens_exact"
) -> DataFrame:
    """(term, id, positions) — the GIN-with-positions layout (r9, VERDICT
    r8 ask #6): 0-based sorted token positions per (term, doc), the
    write-time structure that serves BATCHED phrase verification without
    touching token arrays or re-tokenizing anything. Stored sorted by
    term like the tf tables; costs one extra int-array column over tf
    postings."""
    # posexplode_outer + isnotnull: same InferFiltersFromGenerate dodge as
    # build_tf_postings (the plain posexplode's inferred size()>0 filter
    # re-ran the tokenizer per row through the pushed-down projection)
    return (
        tokens.select("id", F.posexplode_outer(F.col(token_col)).alias("pos", "term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term", "id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def build_doclen_table(
    tokens: DataFrame, token_col: str = "tokens_stemmed"
) -> DataFrame:
    """(id, dl) — per-doc token count of the scoring config, the one extra
    write-time column BM25 serving needs beyond tf postings (r10 — VERDICT
    r9 ask #6). Store next to the tf tables; one int per doc."""
    return tokens.select("id", F.size(F.col(token_col)).alias("dl"))


def doclen_partition_rows(doclen: DataFrame) -> DataFrame:
    """Encode an (id, dl) doclen frame as the rows it occupies inside the
    kind-partitioned tf snapshot: (kind='doclen', term='', id, tf=dl).
    The ONE encoder for the format :func:`read_doclen` decodes — every
    writer goes through :func:`build_tf_all`, which calls it, so encode
    and decode cannot drift."""
    return doclen.select(
        F.lit("doclen").alias("kind"),
        F.lit("").alias("term"),
        F.col("id"),
        F.col("dl").cast("long").alias("tf"),
    )


def keyword_search_bm25_indexed(
    tf_stemmed: DataFrame,
    doclen: DataFrame,
    query: str,
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
    stem_fn=None,
) -> DataFrame:
    """Okapi BM25 SERVED from the write-time index (r10 — VERDICT r9 ask
    #6: BM25 was the Q3 family's last member still scanning + re-tokenizing
    the corpus at query time). Inputs are materializations the ingest path
    already produces: ``build_tf_postings(tokens, "tokens_stemmed")`` (BM25
    scores the stemmed config, like the scan tier) and
    :func:`build_doclen_table`.

    BIT-EQUAL to ``search.keyword_search_bm25``: corpus stats (N, Σdl,
    per-term df) are the same integer sums — N/Σdl from the doclen table,
    df_t = the term's tf-postings row count (one row per containing doc) —
    and the per-doc score is the same fixed-order double expression over
    per-term tf columns (the probe PIVOTS to one column per sorted query
    term, so FP addition order matches the scan tier exactly; a groupBy
    SUM of per-term parts would be partition-order-dependent).

    Plan: the postings scan is pruned to the query's terms (literal IN —
    partition/row-group pruning on a term-sorted layout), candidates join
    doclen on id, and the one-row stats frame broadcasts. Marginal cost
    per query is the matched-postings volume + one metadata-sized doclen
    aggregate — never a corpus tokenize. Docs containing no query term
    score 0 in the scan tier and are absent here; both tiers drop them
    (score > 0 filter).

    Output: (id, score) rounded to 9 dp, top-k by (score desc, id)."""
    from connapse_spark.operators.search import BM25_B, BM25_K1

    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    # stem_fn must match the analyzer the postings were built with:
    # default suffix-stripper, or functions.porter2.porter2_stem for an
    # index built via build_token_table(stemmer="porter2")
    stem = stem_py if stem_fn is None else stem_fn
    terms = sorted({stem(t) for t in tokenize_py(query)})
    if not terms:
        return doclen.select(F.col("id"), F.lit(0.0).alias("score")).limit(0)

    probe = tf_stemmed.filter(F.col("term").isin(*terms))
    per_id = probe.groupBy("id").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf"))).alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ]
    )
    dfs = probe.groupBy().agg(
        *[
            F.count(F.when(F.col("term") == t, F.lit(1))).alias(f"_df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    stats = (
        doclen.agg(
            F.count(F.lit(1)).alias("_n"), F.sum("dl").alias("_sumdl")
        ).crossJoin(dfs)
    )
    scored = per_id.join(doclen, "id").crossJoin(F.broadcast(stats))
    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    score = None
    for i, _t in enumerate(terms):
        tf = F.coalesce(F.col(f"_tf_{i}"), F.lit(0)).cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - F.col(f"_df_{i}").cast("double") + F.lit(0.5))
            / (F.col(f"_df_{i}").cast("double") + F.lit(0.5))
        )
        part = idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)
        score = part if score is None else score + part
    # top-k FIRST, filter the <=k survivors (r11 §16, the §12 scan-tier
    # rewrite): a score>0 filter below the sort pushes through the
    # projection and evaluates the whole BM25 expression twice per row;
    # provably identical (every part is >=0, so zero-score rows sort last
    # under desc) and the Limit is a pushdown barrier.
    return (
        scored.select(F.col("id"), F.round(score, 9).alias("score"))
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
        .filter(F.col("score") > 0.0)
    )


def _greedy_nonoverlap(starts: Column, plen: Column) -> Column:
    """Greedy leftmost non-overlap fold over a SORTED starts array — the
    scan tier's string-``replace()`` occurrence count (see
    :func:`phrase_occurrences_both`); 0 for NULL/empty starts.

    ``starts`` is BOUND once (r11 §16): the null guard and the fold both
    referenced it, and for the phrase kernel that expression is the whole
    sorted shifted-intersection chain — interpreted HOFs re-ran it per
    reference. Same fold, same order — bit-identical counts."""

    def _with(st: Column) -> Column:
        fold = F.aggregate(
            st,
            F.struct(F.lit(0).alias("c"), F.lit(-(1 << 30)).cast("int").alias("free")),
            lambda acc, s: F.when(
                s >= acc["free"],
                F.struct(
                    (acc["c"] + F.lit(1)).alias("c"),
                    (s + plen).cast("int").alias("free"),
                ),
            ).otherwise(acc),
            lambda acc: acc["c"],
        )
        return F.when(st.isNull(), F.lit(0)).otherwise(fold)

    return _bind(starts, _with)


def phrase_occurrences_both(
    pos_exact: DataFrame,
    pos_stemmed: DataFrame,
    rows_exact: list,
    rows_stemmed: list,
) -> DataFrame:
    """Both-config phrase occurrence counts in ONE keyed aggregation
    (r10): union the exact- and stemmed-table matches under a config tag
    and fold each config's shifted-intersection inside the same grouped
    row — (qid, id, plen, occ_e, occ_s), rows where either config has ≥1
    occurrence. A start s is valid iff every
    phrase offset o has a posting position s+o (intersection of shifted
    position lists — array_intersect over sorted int arrays); the greedy
    left-to-right fold over sorted starts reproduces the scan tier's
    string-``replace()`` count bit-for-bit (r9-pinned), including the
    periodic-phrase caveat documented on ``_phrase_occurrences``.

    r10 plan shape (vs the r9 kernel this replaces): ONE keyed
    aggregation — the r9 shape exploded every shifted position into
    (qid, id, start) rows, re-grouped twice PER CONFIG, and full-outer
    joined the configs; here the matched (off, positions) lists collect
    once per (qid, id) with both configs tagged into the same grouped
    row. Shuffled volume drops from Σ|positions| rows to one array row
    per (phrase, doc, config), and the batched-phrase stage count
    roughly halves."""
    spark = pos_exact.sparkSession

    def _matched(ptab: DataFrame, rows: list, cfg: str) -> DataFrame:
        q = spark.createDataFrame(rows, "qid long, term string, off int, plen int")
        terms = sorted({t for _, t, _, _ in rows})
        return (
            ptab.filter(F.col("term").isin(*terms))
            .join(F.broadcast(q), "term")
            .select("qid", "id", "plen", "off", "positions", F.lit(cfg).alias("cfg"))
        )

    both = _matched(pos_exact, rows_exact, "e").unionByName(
        _matched(pos_stemmed, rows_stemmed, "s")
    )

    shifted = lambda x: F.filter(  # noqa: E731
        F.transform(x["positions"], lambda p: p - x["off"]),
        lambda s: s >= 0,
    )

    def _starts_of(ops: Column) -> Column:
        return F.sort_array(
            F.aggregate(
                ops,
                F.expr("CAST(NULL AS ARRAY<INT>)"),
                lambda acc, x: F.when(acc.isNull(), shifted(x)).otherwise(
                    F.array_intersect(acc, shifted(x))
                ),
            )
        )

    def _n_off(ops: Column) -> Column:
        # distinct matched offsets, from the collected list (collect_list
        # drops the other config's null rows, so this equals the r10
        # count_distinct exactly)
        return F.size(F.array_distinct(F.transform(ops, lambda x: x["off"])))

    def _occ_of(cfg: str) -> Column:
        # collect_list ONLY — the r10 kernel also ran count_distinct(off)
        # in the same groupBy, and Spark's multi-distinct planning rewrote
        # the aggregation into an Expand (2× input rows) + a second
        # Exchange + a SortAggregate chain; deriving the distinct-offset
        # count from the collected array keeps the kernel at ONE
        # ObjectHashAggregate pair / one Exchange.
        #
        # The occurrence count is computed INSIDE the aggregate's result
        # expressions, with the collected list bound once (r11 §16). The
        # r11 shape computed occ in a select ABOVE the aggregate with the
        # ``occ > 0`` cut as a separate filter: predicate pushdown rewrote
        # the cut through the projection, so the Filter node carried the
        # ENTIRE shifted-intersection + greedy-fold chain (a 10 KB pushed
        # condition) and every surviving row paid it again in the
        # projection — and _greedy_nonoverlap's null guard re-ran the
        # starts chain once more per evaluation. As an aggregate output,
        # occ is a plain attribute at the filter site; the chain runs once
        # per grouped row. Same expressions, same FP/int order —
        # bit-identical counts.
        ops_agg = F.sort_array(
            F.collect_list(
                F.when(F.col("cfg") == cfg, F.struct(F.col("off"), F.col("positions")))
            )
        )

        def _with_ops(ops: Column) -> Column:
            return F.when(
                _n_off(ops) == F.col("plen"),
                _greedy_nonoverlap(_starts_of(ops), F.col("plen")),
            ).otherwise(F.lit(0))

        return _bind(ops_agg, _with_ops)

    gathered = both.groupBy("qid", "id", "plen").agg(
        _occ_of("e").alias("occ_e"), _occ_of("s").alias("occ_s")
    )
    return gathered.filter((F.col("occ_e") > 0) | (F.col("occ_s") > 0))


def keyword_search_many_phrase_indexed(
    pos_exact: DataFrame,
    pos_stemmed: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    stem_fn=None,
) -> DataFrame:
    """BATCHED phrase search served from positions-bearing postings (r9):
    N quoted-phrase queries in ONE job against the write-time
    (term, id, positions) tables — closing the r8 tier gap where batched
    phrase queries routed to the per-query token-table tier (N sub-jobs,
    each scanning candidate token arrays).

    TIER CONTRACT: every query must be a single POSITIVE quoted phrase
    (ValueError otherwise — mixed websearch syntax routes to
    :func:`keyword_search_websearch_indexed` or the scan tier). A
    one-token phrase is served too and degenerates exactly: every
    position is a valid start, the unit-span greedy fold accepts all of
    them, so occ == tf — the scan tier's single-word phrase count
    (unit-pinned). Scores
    are identical to keyword_search_websearch's pure-phrase case:
    ``raw = len(ph)·(W_A·occ_exact + W_B·occ_stem)``, rank/(rank+1),
    where occ is the LEFTMOST NON-OVERLAPPING adjacency count — the scan
    tier's string-replace count reproduced from positions: a start s is
    valid iff every phrase offset o has a posting position s+o
    (intersection of shifted position lists), and a greedy left-to-right
    fold over the sorted starts skips starts inside the previous match's
    span (replace() semantics, bit-equal; the periodic-phrase caveat on
    _phrase_occurrences carries over identically).

    Plan: term-pruned postings scan (literal IN pushes into the
    term-sorted layout) → broadcast join to the query offsets → one
    explode of shifted positions → two keyed aggregations per config →
    full-outer config merge → shared per-qid top-k window. Marginal cost
    per batch is the matched-postings volume, never the corpus — at
    100 TB this is the difference between N token-array verifications
    and one positions probe."""
    from connapse_spark.operators.search import parse_websearch, rank_topk_per_qid

    stem = stem_py if stem_fn is None else stem_fn
    spark = pos_exact.sparkSession
    qe_rows, qs_rows = [], []  # (qid, term, off, plen)
    for qid, qtext in queries:
        groups = parse_websearch(qtext)
        if (
            len(groups) != 1
            or len(groups[0]) != 1
            or groups[0][0].negated
            or not groups[0][0].phrase
        ):
            raise ValueError(
                "phrase tier serves single positive quoted phrases only — "
                "route mixed websearch syntax to keyword_search_websearch_indexed"
            )
        ws = groups[0][0].tokens
        for off, w in enumerate(ws):
            qe_rows.append((qid, w, off, len(ws)))
        for off, st in enumerate(stem(w) for w in ws):
            qs_rows.append((qid, st, off, len(ws)))
    if not qe_rows:
        return spark.createDataFrame([], "qid long, id long, score double, rank long")

    # r10: both configs in ONE keyed aggregation (phrase_occurrences_both)
    # instead of two kernel runs + a full-outer merge — same integer
    # counts, half the shuffles
    merged = phrase_occurrences_both(pos_exact, pos_stemmed, qe_rows, qs_rows)
    raw = F.col("plen").cast("double") * (
        F.lit(WEIGHT_EXACT) * F.coalesce(F.col("occ_e"), F.lit(0))
        + F.lit(WEIGHT_STEMMED) * F.coalesce(F.col("occ_s"), F.lit(0))
    )
    scored = merged.select(
        "qid", "id", (raw / (raw + F.lit(1.0))).alias("score")
    ).filter(F.col("score") > 0.0)
    return rank_topk_per_qid(scored, k)


def websearch_scores_indexed(
    tf_exact: DataFrame,
    tf_stemmed: DataFrame,
    pos_exact: DataFrame | None,
    pos_stemmed: DataFrame | None,
    queries: list[tuple[int, str]],
    stem_fn=None,
) -> DataFrame:
    """(qid, id, score) for N FULL-SYNTAX websearch queries served entirely
    from write-time postings (r10 — VERDICT r9 ask #3: the BLAS production
    tier accepted flat-term batches only, so one quoted phrase in a batch
    forced the whole batch onto the per-query-expression oracle tier).
    SET-BASED: no per-query expression ever touches the corpus — the only
    per-query expressions run in the final projection over the
    CANDIDATE-bounded frame (docs holding ≥1 query atom), which is the
    matched-postings volume, never corpus×N.

    Plan — TWO keyed aggregations total (r11: ONE of them on (id, qid)):

    * probes: tf_exact and tf_stemmed pruned to the batch's atom terms
      and broadcast-joined to the atom table; for phrase atoms,
      :func:`phrase_occurrences_both` over the batch's DISTINCT phrases
      (a phrase shared by 5 queries counts once, both configs folded in
      one grouped row — the plan's other keyed aggregation),
      broadcast-joined to the (qid, pid) atom frame;
    * ALL probe rows union under a config tag (exchange-free) into ONE
      (id, qid) groupBy producing Σtf over the query's positive singles
      per config (each distinct term counted once — the ``scored`` flag
      marks exactly one meta row per (qid, term)), two per-pid
      occurrence PIVOT columns per scored phrase (plain ``max`` — the
      batch's phrases are driver-known and few, and a pid→occ map via
      collect_set forced the aggregation into ObjectHashAggregate,
      losing whole-stage codegen), AND the full 64-bit PRESENCE BITMASK
      ``bit_or(1 << aid)`` over every atom the doc hits. The r10 shape
      merged a separate phrase aggregation into the single-term one
      with a full-outer SortMergeJoin — an extra Exchange plus two
      Sorts on the heaviest frames, deleted here.

    The final projection evaluates, per qid, the scan tier's
    ``websearch_score_sql`` rebuilt over the pivoted columns in the SAME
    FP order (doubles bit-equal) and the match gate as a boolean formula
    over the OR'd bitmask — ``mask & (1<<aid)`` per atom, negated atoms
    inverted, AND within a group, OR across groups. Pure-negation groups
    evaluate correctly on candidates; docs outside the candidate set can
    only match with score 0 and are dropped by both tiers (score > 0
    gate), so candidates are sufficient.

    ``pos_exact``/``pos_stemmed`` may be None when no query in the batch
    contains a phrase (ValueError if a phrase arrives without them).
    Queries that are empty or parse to no groups drop per qid (Q13); a
    query with more than 63 atoms raises (bitmask width) — callers going
    through ``hybrid_search_many_fast(websearch=True)`` never see the
    error: that tier auto-routes oversized queries to the oracle tier
    and merges (r11)."""
    from connapse_spark.operators.search import (
        _positive_terms,
        parse_websearch,
    )

    stem = stem_py if stem_fn is None else stem_fn
    spark = tf_exact.sparkSession
    parsed: list[tuple[int, list]] = []
    for qid, qtext in queries:
        groups = parse_websearch(qtext or "")
        if groups:
            parsed.append((int(qid), groups))
    id_type = tf_exact.schema["id"].dataType.simpleString()
    empty = spark.createDataFrame([], f"qid int, id {id_type}, score double")
    if not parsed:
        return empty

    phrase_pid: dict[tuple, int] = {}

    def _pid(words: list[str]) -> int:
        key = tuple(words)
        if key not in phrase_pid:
            phrase_pid[key] = len(phrase_pid)
        return phrase_pid[key]

    e_meta: list = []  # (qid, term, aid, scored)
    s_meta: list = []  # (qid, stem, aid, scored)
    p_meta: list = []  # (qid, pid, aid, scored)
    atom_layout: dict[int, list] = {}  # qid -> [[(aid, negated)] per group]
    for qid, groups in parsed:
        singles, phrases = _positive_terms(groups)
        pos_terms = set(singles)
        pos_stems = {stem(t) for t in singles}
        pos_pids = {phrase_pid.setdefault(tuple(ph), len(phrase_pid)) for ph in phrases}
        if sum(len(g) for g in groups) > 63:
            raise ValueError(
                "websearch query exceeds 63 atoms (presence-bitmask width) "
                "— route this batch to the oracle tier hybrid_search_many"
            )
        se: set = set()
        ss: set = set()
        sp: set = set()
        aid = 0
        layout = []
        for g in groups:
            ga = []
            for term in g:
                if term.phrase:
                    pid = _pid(term.tokens)
                    scored = pid in pos_pids and pid not in sp
                    if scored:
                        sp.add(pid)
                    p_meta.append((qid, pid, aid, scored))
                else:
                    t = term.tokens[0]
                    st = stem(t)
                    scored_e = t in pos_terms and t not in se
                    if scored_e:
                        se.add(t)
                    scored_s = st in pos_stems and st not in ss
                    if scored_s:
                        ss.add(st)
                    e_meta.append((qid, t, aid, scored_e))
                    s_meta.append((qid, st, aid, scored_s))
                ga.append((aid, term.negated))
                aid += 1
            layout.append(ga)
        atom_layout[qid] = layout
    if phrase_pid and (pos_exact is None or pos_stemmed is None):
        raise ValueError(
            "batch contains quoted phrases — pass positions postings "
            "(build_positions_postings) or route to the scan tier"
        )

    # DataFrame-API shiftleft takes a literal bit count only — the SQL
    # twin accepts a column for it
    mask_bit = F.expr("shiftleft(CAST(1 AS BIGINT), aid)")

    # ---- ONE (id, qid) Exchange TOTAL (r11 — VERDICT r10 ask #1: the
    # r10 shape ran the single-term aggregation and the phrase kernel as
    # separate pipelines merged by a full-outer SMJ — one extra Exchange
    # plus two sorts on the heaviest frames in the plan; measured 284
    # ms/q amortized vs the flat-term tier's 74 at sf0.1). The phrase
    # kernel's per-(id, pid) occurrence rows now union-tag into the SAME
    # final aggregation that builds n_exact/n_stem and the bitmask: the
    # union is exchange-free, so everything after the kernel's own
    # grouped fold rides a single hash aggregate on (id, qid).
    null_tf = F.lit(None).cast("long")
    null_pid = F.lit(None).cast("long")
    null_occ = F.lit(None).cast("int")
    parts: list = []
    if e_meta or s_meta:
        def _tagged(tf: DataFrame, meta: list, cfg: str) -> DataFrame | None:
            if not meta:
                return None
            qdf = spark.createDataFrame(
                meta, "qid int, term string, aid int, scored boolean"
            )
            terms = sorted({m[1] for m in meta})
            return (
                tf.filter(F.col("term").isin(*terms))
                .join(F.broadcast(qdf), "term")
                .select(
                    "id", "qid", "aid", "scored", "tf",
                    null_pid.alias("pid"),
                    null_occ.alias("occ_e"), null_occ.alias("occ_s"),
                    F.lit(cfg).alias("cfg"),
                )
            )

        parts += [
            t
            for t in (_tagged(tf_exact, e_meta, "e"), _tagged(tf_stemmed, s_meta, "s"))
            if t is not None
        ]

    # BOTH phrase configs in one kernel over the batch's DISTINCT phrases
    # (a phrase shared by 5 queries counts once)
    if p_meta:
        pe_rows, psm_rows = [], []
        for words, pid in phrase_pid.items():
            for off, w in enumerate(words):
                pe_rows.append((pid, w, off, len(words)))
            for off, st in enumerate(stem(w) for w in words):
                psm_rows.append((pid, st, off, len(words)))
        occ = (
            phrase_occurrences_both(pos_exact, pos_stemmed, pe_rows, psm_rows)
            .withColumnRenamed("qid", "pid")
            .drop("plen")
        )
        pdf = spark.createDataFrame(p_meta, "qid int, pid long, aid int, scored boolean")
        parts.append(
            occ.join(F.broadcast(pdf), "pid")
            .select(
                "id", "qid", "aid", "scored", null_tf.alias("tf"),
                "pid", "occ_e", "occ_s", F.lit("p").alias("cfg"),
            )
        )

    if not parts:
        return empty
    probe = parts[0]
    for p in parts[1:]:
        probe = probe.unionByName(p)
    # per-pid occurrence PIVOT instead of a pid→occ map: collect_set +
    # map_from_entries forced the whole aggregation into
    # ObjectHashAggregate (no whole-stage codegen — measured 2× the flat
    # tier even on phrase-free batches); the batch's scored phrases are
    # driver-known and few, so two plain max() columns per pid keep the
    # single (id, qid) aggregation fully codegen'd (sum/sum/bit_or/max
    # are all DeclarativeAggregates). Rows per (id, qid, pid) are unique,
    # so max() is selection, not arithmetic.
    scored_pids = sorted({pid for _, pid, _, sc in p_meta if sc})
    aggs = [
        F.sum(
            F.when((F.col("cfg") == "e") & F.col("scored"), F.col("tf"))
        ).alias("n_exact"),
        F.sum(
            F.when((F.col("cfg") == "s") & F.col("scored"), F.col("tf"))
        ).alias("n_stem"),
        F.bit_or(mask_bit).alias("_mask"),
    ]
    for pid in scored_pids:
        is_pid = (
            (F.col("cfg") == "p") & F.col("scored") & (F.col("pid") == pid)
        )
        aggs.append(F.max(F.when(is_pid, F.col("occ_e"))).alias(f"_oe_{pid}"))
        aggs.append(F.max(F.when(is_pid, F.col("occ_s"))).alias(f"_os_{pid}"))
    cand = probe.groupBy("id", "qid").agg(*aggs)
    mask = F.coalesce(F.col("_mask"), F.lit(0).cast("long"))

    # ---- per-qid score (websearch_score_sql's FP order — bit-equal
    # doubles) and match gate (bitmask formula), one when-chain each
    score_expr = None
    match_expr = None
    for qid, groups in parsed:
        singles, phrases = _positive_terms(groups)
        raw = F.lit(0.0)
        if singles:
            raw = raw + F.lit(WEIGHT_EXACT) * F.coalesce(F.col("n_exact"), F.lit(0))
            raw = raw + F.lit(WEIGHT_STEMMED) * F.coalesce(F.col("n_stem"), F.lit(0))
        for ph_words in phrases:
            pid = phrase_pid[tuple(ph_words)]
            raw = raw + F.lit(float(len(ph_words))) * (
                F.lit(WEIGHT_EXACT) * F.coalesce(F.col(f"_oe_{pid}"), F.lit(0))
                + F.lit(WEIGHT_STEMMED) * F.coalesce(F.col(f"_os_{pid}"), F.lit(0))
            )
        sc = raw / (raw + F.lit(1.0))
        m = F.lit(False)
        for ga in atom_layout[qid]:
            g_ok = F.lit(True)
            for aid, negated in ga:
                present = mask.bitwiseAND(F.lit(1 << aid)) != F.lit(0)
                g_ok = g_ok & (~present if negated else present)
            m = m | g_ok
        cond = F.col("qid") == qid
        score_expr = F.when(cond, sc) if score_expr is None else score_expr.when(cond, sc)
        match_expr = F.when(cond, m) if match_expr is None else match_expr.when(cond, m)

    return (
        cand.select(F.col("qid"), F.col("id"), score_expr.alias("score"),
                    match_expr.alias("_match"))
        .filter(F.col("_match") & (F.col("score") > 0.0))
        .select("qid", "id", "score")
    )



def keyword_search_proximity_indexed(
    pos_exact: DataFrame,
    pos_stemmed: DataFrame,
    query: str,
    k: int = 10,
    stem_fn=None,
) -> DataFrame:
    """Cover-density proximity ranking SERVED from the positions postings
    (r9 — the Q3 family's last scan-only member in the served regime):
    identical rows to ``search.keyword_search_proximity`` — the TF part
    is Σ size(positions) over the query's matched terms per config, and
    each adjacent-pair 1/mindist bonus computes over the pair's two
    posting position lists (the same integer position values posexplode
    produced on the scan tier, added in the SAME order, so doubles are
    bit-equal). The scan tier's one corpus-wide posexplode is replaced
    by a term-pruned postings read: marginal cost per query is the
    matched-postings volume — the probe regime at 100 TB.

    Output: (id, score), score > 0, top-k by (score desc, id)."""
    from connapse_spark.operators.search import WEIGHT_EXACT as WE
    from connapse_spark.operators.search import WEIGHT_STEMMED as WS
    from connapse_spark.operators.search import _query_term_pairs

    stem = stem_py if stem_fn is None else stem_fn
    terms, pairs = _query_term_pairs(query)
    if not terms:
        return pos_exact.select(
            F.col("id"), F.lit(0.0).alias("score")
        ).limit(0)
    uniq = sorted(set(terms))
    stems = sorted({stem(t) for t in terms})

    def _gather(ptab: DataFrame, wanted: list[str], tag: str) -> DataFrame:
        return (
            ptab.filter(F.col("term").isin(*wanted))
            .groupBy("id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("term"), F.col("positions")))
                ).alias(f"_pm_{tag}"),
                F.sum(F.size("positions")).alias(f"_n_{tag}"),
            )
        )

    ge = _gather(pos_exact, uniq, "e")
    gs = _gather(pos_stemmed, stems, "s")
    merged = ge.join(gs, "id", "full_outer")

    def _pair_bonus(pm: Column, t1: str, t2: str) -> Column:
        p1 = F.element_at(pm, F.lit(t1))
        p2 = F.element_at(pm, F.lit(t2))
        md = F.array_min(
            F.flatten(F.transform(p1, lambda a: F.transform(p2, lambda b: F.abs(a - b))))
        )
        return F.when(
            p1.isNotNull() & p2.isNotNull()
            & (F.size(p1) > 0) & (F.size(p2) > 0),
            F.lit(1.0) / F.greatest(md, F.lit(1)),
        ).otherwise(F.lit(0.0))

    # SAME additive order as the scan tier — doubles stay bit-equal
    raw = F.lit(WE) * F.coalesce(F.col("_n_e"), F.lit(0))
    raw = raw + F.lit(WS) * F.coalesce(F.col("_n_s"), F.lit(0))
    for a, b in pairs:
        raw = raw + F.lit(WE) * _pair_bonus(F.col("_pm_e"), a, b)
        sa, sb = stem(a), stem(b)
        raw = raw + F.lit(WS) * _pair_bonus(F.col("_pm_s"), sa, sb)
    # top-k FIRST, filter the <=k survivors (r11 §16, the §12 scan-tier
    # rewrite): the score>0 cut below the sort pushes through the
    # projection, so the Filter re-ran every pair-bonus flatten
    # (O(|p1|·|p2|) per pair) a second time per candidate row; provably
    # identical (raw >= 0 — tf sums and bonuses are non-negative — so
    # zero-score rows sort last under desc) and Limit is a pushdown
    # barrier.
    return (
        merged.select(F.col("id"), (raw / (raw + F.lit(1.0))).alias("score"))
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
        .filter(F.col("score") > 0.0)
    )


def _affected_ids(
    spark,
    new_tokens: DataFrame,
    deleted_ids: "list | DataFrame | None",
    elem_type=None,
) -> "tuple[DataFrame, bool]":
    """Union the upserted ids with the deletions; the second element says
    whether a broadcast HINT on the resulting id set is safe — true only
    when deletions arrived as a bounded Python list. A DataFrame of
    deletions may be a full change feed, so its join strategy is left to
    the optimizer (AQE broadcasts it at runtime when it measures small).
    ``elem_type`` casts every side to the probed table's id type (string
    chunk ids and bigint doc ids both maintain — upsert_postings passes
    its table's id type); omitted, list deletions coerce to bigint
    (the tf twin's historical contract)."""
    def _cast(df: DataFrame) -> DataFrame:
        if elem_type is None:
            return df
        return df.select(F.col("id").cast(elem_type).alias("id"))

    affected = _cast(new_tokens.select("id"))
    if isinstance(deleted_ids, DataFrame):
        return affected.unionByName(_cast(deleted_ids.select("id"))), False
    if deleted_ids:
        if elem_type is None:
            deleted = spark.createDataFrame(
                [(int(i),) for i in deleted_ids], "id bigint"
            )
        else:
            deleted = _cast(
                spark.createDataFrame([(i,) for i in deleted_ids], ["id"])
            )
        affected = affected.unionByName(deleted)
    return affected, True


def fold_postings(
    base: "DataFrame | None",
    fresh: DataFrame,
    tombs: DataFrame,
    broadcast: bool = True,
) -> DataFrame:
    """The tombstone-clock fold over the ONE change representation of
    the row-level payload tables (tf postings with their doclen rows,
    positions postings, a bare doclen table). Every maintenance path is
    this fold: the upserts apply one batch at once, a pending-list read
    resolves base ∪ delta (:func:`resolve_pending`), an overwrite wave
    and ``ingest.compact_serving`` commit the result as the next base.

    ``fresh`` holds changed rows (``base``'s columns plus a ``batch``
    long); ``tombs`` one (``id``, ``batch``) row per id a batch touched.
    A batch tombstones the ids it upserts as well as the ids it deletes,
    so an id's live rows are those of its latest tombstoned batch: the
    result is ``base`` minus every tombstoned id, plus each fresh row no
    later tomb of its id supersedes (``base=None`` — no base yet — gives
    the live fresh rows alone). The clock never reads the payload.
    Duplicate tombs are harmless; duplicate fresh rows are not (replayed
    on-disk batches dedup in :func:`read_pending`).

    Both sides are one ``left_anti`` against the tomb frame, broadcast
    unless ``broadcast=False`` (a change feed of unknown size: the join
    strategy is then the optimizer's, and AQE broadcasts it when it
    measures small). Broadcast, the base is scanned once and never
    shuffled; either way nothing is collected to the driver and no id
    becomes a plan literal."""
    t = tombs.select(F.col("id").alias("_tid"), F.col("batch").alias("_tb"))
    if broadcast:
        t = F.broadcast(t)
    cols = [c for c in fresh.columns if c != "batch"] if base is None else base.columns
    live = fresh.join(
        t, (F.col("id") == F.col("_tid")) & (F.col("_tb") > F.col("batch")), "left_anti"
    ).select(*cols)
    if base is None:
        return live
    return (
        base.join(t, F.col("id") == F.col("_tid"), "left_anti")
        .select(*cols)
        .unionByName(live)
    )


def _upsert(
    base: DataFrame, new_tokens: DataFrame, deleted_ids, fresh: DataFrame, elem_type=None
) -> DataFrame:
    """One batch — its ``fresh`` rows and a tomb per affected id, on one
    clock tick — folded into ``base``; ``elem_type`` as in
    :func:`_affected_ids`."""
    affected, bounded = _affected_ids(
        base.sparkSession, new_tokens, deleted_ids, elem_type=elem_type
    )
    tick = F.lit(0).cast("long")
    return fold_postings(
        base,
        fresh.withColumn("batch", tick),
        affected.withColumn("batch", tick),
        broadcast=bounded,
    )


def upsert_tf_postings(
    tf: DataFrame,
    new_tokens: DataFrame,
    deleted_ids: "list[int] | DataFrame | None" = None,
    token_col: str = "tokens_exact",
) -> DataFrame:
    """Incremental maintenance of a (term, id, tf) table — the write side
    of what ``keyword_search_many_indexed`` / the fast hybrid tier's
    ``tf_postings`` serve from. A batch of NEW/UPDATED docs (their token
    table) plus optional deletions folds in without re-tokenizing the
    corpus (:func:`fold_postings`: affected ids — upserted, so their
    stale terms go, or deleted — drop in one anti-join, the batch's rows
    union in); the ``tf_postings_upsert`` oracle entry checks
    incremental == rebuild over the post-upsert corpus.

    ``deleted_ids`` may be a Python list (bounded ad-hoc batch — the
    anti-join is broadcast) or a DataFrame with an ``id`` column
    (change-feed scale — stays distributed end to end, join strategy
    left to the optimizer). The only shuffle is the batch's own
    (term, id) aggregation."""
    return _upsert(tf, new_tokens, deleted_ids, build_tf_postings(new_tokens, token_col))


def upsert_positions_postings(
    pos: DataFrame,
    new_tokens: DataFrame,
    deleted_ids: "list[int] | DataFrame | None" = None,
    token_col: str = "tokens_exact",
) -> DataFrame:
    """Incremental maintenance of a (term, id, positions) table — the
    phrase/proximity serving structure — without re-posexploding the
    corpus; the same fold and ``deleted_ids`` contract as
    :func:`upsert_tf_postings`. The ``positions_upsert`` oracle entry
    pins incremental == rebuild over the post-change corpus, position
    for position."""
    return _upsert(
        pos, new_tokens, deleted_ids, build_positions_postings(new_tokens, token_col)
    )


def upsert_doclen(
    doclen: DataFrame,
    new_tokens: DataFrame,
    deleted_ids: "list[int] | DataFrame | None" = None,
    token_col: str = "tokens_stemmed",
) -> DataFrame:
    """Incremental maintenance of an (id, dl) doclen table — the length
    column ``keyword_search_bm25_indexed`` mixes with the stemmed tf
    postings — through the same fold as :func:`upsert_tf_postings`. The
    ``bm25_upsert`` oracle entry pins the SERVED BM25 scores over
    incrementally-maintained tables against a from-scratch rebuild."""
    return _upsert(
        doclen, new_tokens, deleted_ids, build_doclen_table(new_tokens, token_col)
    )


def pending_delta(
    tokens: DataFrame,
    deleted_ids: "list | DataFrame | None",
    rows_of,
    delta_dir: str,
    batch: int | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """One batch as a pending delta: ``(fresh, tombs)`` for
    :func:`fold_postings` — ``rows_of(tokens)`` (e.g.
    :func:`build_tf_all`, :func:`build_positions_all`) stamped with the
    batch id, and one tomb per affected id (the batch's own ids and the
    deletions). ``batch`` must be monotone across a delta's commits; the
    default is the delta's next version, which exceeds every batch id the
    delta holds."""
    from connapse_spark.sources import snapshots

    if batch is None:
        lv = snapshots.latest_version(delta_dir)
        batch = 0 if lv is None else lv + 1
    tick = F.lit(int(batch)).cast("long")
    affected, _ = _affected_ids(tokens.sparkSession, tokens, deleted_ids)
    return rows_of(tokens).withColumn("batch", tick), affected.withColumn("batch", tick)


def append_pending(delta_dir: str, fresh: DataFrame, tombs: DataFrame) -> int:
    """Commit one :func:`pending_delta` to ``delta_dir`` in O(batch), no
    base read: the fresh rows plus one (kind='tomb', term='', id, NULL
    payload, batch) row per tomb, kind-partitioned, appended to the
    delta's latest version. Replaying a batch appends byte-identical
    rows, which :func:`read_pending` dedups — crash-replay is idempotent
    at read time."""
    from connapse_spark.sources import snapshots

    # a NULL cast by type NAME: an array payload then admits null
    # elements, the on-disk type every commit of the delta shares
    fill = {"kind": F.lit("tomb"), "term": F.lit(""), "id": F.col("id"), "batch": F.col("batch")}
    tomb_rows = tombs.select(*[
        fill.get(f.name, F.lit(None).cast(f.dataType.simpleString())).alias(f.name)
        for f in fresh.schema
    ])
    return snapshots.commit_snapshot(
        fresh.unionByName(tomb_rows),
        delta_dir,
        mode="append" if snapshots.latest_version(delta_dir) is not None else "overwrite",
        partition_by=["kind"],
    )


def read_pending(
    spark, delta_dir: str, version: int | None = None
) -> "tuple[DataFrame, DataFrame]":
    """A committed pending delta at ``version`` as :func:`fold_postings`'s
    ``(fresh, tombs)``; crash-replayed appends (byte-identical rows)
    dedup on (kind, term, id, batch)."""
    from connapse_spark.sources import snapshots

    d = snapshots.read_snapshot(spark, delta_dir, version=version).dropDuplicates(
        ["kind", "term", "id", "batch"]
    )
    is_tomb = F.col("kind") == "tomb"
    return d.filter(~is_tomb), d.filter(is_tomb).select("id", "batch")


def truncate_pending(spark, delta_dir: str) -> int:
    """Commit an EMPTY version to a pending delta once a fold committed
    its content into the base. Versioned: pinned cuts keep reading their
    pinned delta versions. Without it, a later pending wave would append
    onto the folded rows, and a fold of base ∪ stale delta would revive
    each folded id's latest-batch rows — stale content for ids a wave
    updated since, whole docs it deleted. Mirrors the delta's own schema
    (id may be long or string)."""
    from connapse_spark.sources import snapshots

    schema = snapshots.read_snapshot(spark, delta_dir).schema
    return snapshots.commit_snapshot(
        spark.createDataFrame([], schema), delta_dir, partition_by=["kind"]
    )


def resolve_pending(
    spark,
    base_dir: str,
    delta_dir: str,
    base_version: int | None = None,
    delta_version: int | None = None,
) -> DataFrame:
    """Serve-time view of a pending-list index (the GIN fastupdate
    regime): :func:`fold_postings` of the base and the delta, each at its
    pinned version (latest when omitted). The tombstone set is the ids
    touched since the last fold — broadcast-sized by construction — so
    the base is scanned once with no shuffle. The payload is never read:
    tf rows (with doclen) and positions resolve alike."""
    from connapse_spark.sources import snapshots

    base = (
        snapshots.read_snapshot(spark, base_dir, version=base_version)
        if snapshots.latest_version(base_dir) is not None
        else None
    )
    if snapshots.latest_version(delta_dir) is None:
        return base
    return fold_postings(base, *read_pending(spark, delta_dir, delta_version))



def tf_pending_append(
    docs_batch: DataFrame,
    delta_dir: str,
    deleted_ids: "list[int] | DataFrame | None" = None,
    batch: int | None = None,
    tokens: DataFrame | None = None,
) -> int:
    """PENDING-LIST maintenance of the tf-postings index: append ONE
    batch's :func:`build_tf_all` rows (exact/stemmed tf and doclen) and
    tombstones to the delta in O(batch) instead of rewriting the
    term-clustered index (:func:`pending_delta`, :func:`append_pending`).
    ``tokens`` reuses an already built token table for the batch."""
    toks = build_token_table(docs_batch) if tokens is None else tokens
    return append_pending(
        delta_dir, *pending_delta(toks, deleted_ids, build_tf_all, delta_dir, batch)
    )


def positions_pending_append(
    docs_batch: DataFrame,
    delta_dir: str,
    deleted_ids: "list[int] | DataFrame | None" = None,
    batch: int | None = None,
    tokens: DataFrame | None = None,
) -> int:
    """:func:`tf_pending_append` for the positions postings
    (:func:`build_positions_all` rows)."""
    toks = build_token_table(docs_batch) if tokens is None else tokens
    return append_pending(
        delta_dir, *pending_delta(toks, deleted_ids, build_positions_all, delta_dir, batch)
    )


def read_tf_postings(
    spark, table_dir: str, version: int | None = None
) -> "tuple[DataFrame, DataFrame]":
    """Reopen a committed kind-partitioned tf-postings snapshot (the
    layout ``ingest_serving`` commits and every wave folds into) as the
    ``(tf_exact, tf_stemmed)`` pair every serving tier takes — the
    keyword counterpart of ``plans.ivf.load_vector_index``. The kind
    filter is partition pruning on the committed layout; ``version``
    pins a serving-manifest cut."""
    from connapse_spark.sources import snapshots

    cur = snapshots.read_snapshot(spark, table_dir, version=version)
    return (
        cur.filter(F.col("kind") == "exact").select("term", "id", "tf"),
        cur.filter(F.col("kind") == "stemmed").select("term", "id", "tf"),
    )


def read_doclen(spark, table_dir: str, version: int | None = None) -> DataFrame:
    """Reopen the doclen rows of a committed kind-partitioned postings
    snapshot as the (id, dl) frame ``keyword_search_bm25_indexed`` takes.
    Doclen rides the SAME snapshot as the tf tables (kind='doclen',
    term='', tf=dl) so one atomic commit covers every structure a BM25
    query mixes — a crash between two separate tables could otherwise
    serve tf rows from one corpus version against lengths from another.
    The kind filter is partition pruning, same as :func:`read_tf_postings`."""
    from connapse_spark.sources import snapshots

    cur = snapshots.read_snapshot(spark, table_dir, version=version)
    return cur.filter(F.col("kind") == "doclen").select("id", F.col("tf").alias("dl"))


def keyword_search_many_indexed(
    tf_exact: DataFrame,
    tf_stemmed: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    stem_fn=None,
) -> DataFrame:
    """BATCHED keyword search served from materialized tf-postings: N
    queries against write-time (term, id, tf) tables. Identical scores and
    output shape to operators.search.keyword_search_many — (qid, id,
    score, rank), rank 1-based — but the corpus-wide tokenize + two
    groupBy aggregations are replaced by a term-pruned postings scan
    joined to the broadcast query-term lists. Marginal cost per batch is
    the matched-postings aggregation alone, which at 100 TB is the
    difference between scanning the corpus per batch and reading a few
    hundred posting rows per term.

    TIER CONTRACT: this tier serves the FLAT-TF scorer only — the
    (term, id, tf) layout carries no positions or token arrays, so
    phrase/proximity queries (websearch quotes, cover-density) do NOT
    downgrade silently here; route BATCHED phrase queries to
    :func:`keyword_search_many_phrase_indexed` (positions-served, one
    job — r9) and mixed single-query websearch syntax to
    :func:`keyword_search_websearch_indexed` (token-table-verified) or
    the scan tier. Queries here are treated as bags of words."""
    from connapse_spark.operators.search import (
        batch_keyword_scores_merged,
        rank_topk_per_qid,
        tagged_keyword_agg,
    )

    stem = stem_py if stem_fn is None else stem_fn
    qe_rows, qs_rows = [], []
    for qid, qtext in queries:
        terms = sorted(set(tokenize_py(qtext)))
        for t in terms:
            qe_rows.append((qid, t))
        for st in sorted({stem(t) for t in terms}):
            qs_rows.append((qid, st))
    spark = tf_exact.sparkSession
    if not qe_rows:
        return spark.createDataFrame([], "qid long, id long, score double, rank long")
    qboth = spark.createDataFrame(
        [(q, t, "e") for q, t in qe_rows] + [(q, s, "s") for q, s in qs_rows],
        "qid long, term string, cfg string",
    )

    # literal IN-filters push into the postings scan (row-group pruning on
    # the term-sorted layout) BEFORE the broadcast join fans rows out per
    # qid. r12 (guide §2.4): both configs union under a cfg tag into ONE
    # (qid, id) aggregation — the r11 shape aggregated each config
    # separately ((qid, id) Exchange ×2) and merged them with a
    # full-outer SortMergeJoin; the tagged conditional sums produce
    # bit-identical n_exact/n_stem through a single Exchange, no join.
    all_terms = sorted({t for _, t in qe_rows})
    all_stems = sorted({s for _, s in qs_rows})
    probe = (
        tf_exact.filter(F.col("term").isin(*all_terms))
        .withColumn("cfg", F.lit("e"))
        .unionByName(
            tf_stemmed.filter(F.col("term").isin(*all_stems)).withColumn(
                "cfg", F.lit("s")
            )
        )
    )
    matched = probe.join(F.broadcast(qboth), ["term", "cfg"]).select(
        "qid", "id", "cfg", "tf"
    )
    return rank_topk_per_qid(
        batch_keyword_scores_merged(tagged_keyword_agg(matched)), k
    )


def keyword_search_indexed(
    tokens: DataFrame,
    tf_exact: DataFrame,
    tf_stemmed: DataFrame,
    query: str,
    k: int = 10,
    allowed: DataFrame | None = None,
    stem_fn=None,
) -> DataFrame:
    """Indexed keyword query scored from the query terms' tf rows alone.
    Returns (id, score) — identical to operators.search.keyword_search
    on the same corpus. ``allowed`` (an ``id`` column) semi-joins a filter
    predicate into the matched rows, mirroring the reference AND-composing
    documentId/path filters into the keyword SQL. ``tokens`` only types
    the empty result of a query with no terms.

    The query's terms and stems are deduplicated, so a document's sum of
    tf over them is the count of its token-array elements that are query
    terms / stems: exactly the counts the scan tier takes, fed to the same
    weighted raw/(raw+1) squash. Only ids with a matching tf row can score
    above zero, and every such id has one, so the rows are the scan
    tier's, bit for bit.

    Plan: a literal ``term IN`` filter on each tf table (it pushes into
    the scan and prunes row groups of the term-sorted layout), the two
    configs' rows union-tagged, ``coalesce(1)`` and ONE ``groupBy(id)``
    of the exact and stemmed integer sums — the batched tiers' tagged
    aggregation (``search.tagged_keyword_agg``) for a batch of one. The
    single-partition aggregate needs no Exchange, so a served hybrid
    query stays one Spark job. Cost scales with the query terms'
    postings, never with the corpus: no token row is read and no
    candidate id goes through the driver (a scoring join back to the
    token table would scan every token row and broadcast the candidate
    ids, a second job per query)."""
    stem = stem_py if stem_fn is None else stem_fn
    terms = sorted(set(tokenize_py(query)))
    stems = sorted({stem(t) for t in terms})
    if not terms:
        return tokens.select(F.col("id"), F.lit(0.0).alias("score")).limit(0)

    def rows(tf: DataFrame, vals: list, cfg: str) -> DataFrame:
        return tf.where(f"term IN ({spark_sql_values(vals)})").selectExpr(
            "id", f"'{cfg}' AS cfg", "tf"
        )

    probe = rows(tf_exact, terms, "e").unionByName(rows(tf_stemmed, stems, "s"))
    if allowed is not None:
        probe = probe.join(allowed.select("id"), "id", "left_semi")
    score = keyword_squash_sql("sum(IF(cfg = 'e', tf, 0))", "sum(IF(cfg = 's', tf, 0))")
    # top-k FIRST, score>0 cut on the <=k survivors: raw is a non-negative
    # weighted count, so zero-score rows sort last under desc and the cut
    # keeps the rows a pre-limit filter would (the scan tier's shape)
    return (
        probe.coalesce(1)
        .groupBy("id")
        .agg(F.expr(f"{score} AS score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
        .filter("score > 0.0D")
    )


def keyword_search_snippets_indexed(
    index: KeywordIndex,
    docs: DataFrame,
    query: str,
    k: int = 10,
    radius: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    stem_fn=None,
) -> DataFrame:
    """Result-list snippets with the RANKING served from the write-time
    index (r10 — VERDICT r9 ask #6's second half: the snippets tier still
    re-tokenized the corpus at query time even though its ranking is
    exactly keyword_search's): candidates come from the tf rows via
    :func:`keyword_search_indexed` (row-identical to the scan ranking,
    oracle-pinned), and the ONLY touch of the documents table is the
    ≤k winners' text fetch for the excerpt window — a k-row point read,
    O(k) files on a bloomed serving store. Output is column- and
    order-identical to ``search.keyword_search_snippets``."""
    from connapse_spark.operators.search import attach_snippet_excerpts

    hits = keyword_search_indexed(
        index.tokens,
        index.tf_exact,
        index.tf_stemmed,
        query,
        k=k,
        stem_fn=stem_fn if stem_fn is not None else index.stem_fn,
    ).withColumnRenamed("id", id_col)
    return attach_snippet_excerpts(
        hits, docs, query, radius=radius, id_col=id_col, text_col=text_col
    )


def keyword_search_websearch_indexed(
    tokens: DataFrame,
    tf_exact: DataFrame,
    tf_stemmed: DataFrame,
    query: str,
    k: int = 10,
    stem_fn=None,
) -> DataFrame:
    """Websearch syntax (phrases, negation, OR-groups) served from the
    write-time index (r8 — VERDICT r7 missing/#8: the served tier
    silently lost phrase semantics). Candidates come from the tf rows
    — each OR-group's FIRST positive term is a sound screen (a doc
    matching the group must contain it, in either config) — then the
    SAME match/score expressions as the scan tier
    (operators.search.websearch_match_sql/_score_sql) verify and rank
    over the candidates' STORED token arrays. Phrase adjacency therefore
    needs no separate positions column: the token table IS the
    write-time positional materialization, and candidate verification
    touches only the screen terms' rows, never the corpus. Identical rows to
    keyword_search_websearch by construction — the oracle pins it
    against the scan tier's own SQL.

    Every OR-group must carry at least one positive term (same
    restriction real FTS engines place on index-served negation: a
    group of only negations matches 'almost everything' and cannot be
    candidate-pruned) — ValueError otherwise."""
    from connapse_spark.operators.search import (
        parse_websearch,
        websearch_match_sql,
        websearch_score_sql,
    )

    stem = stem_py if stem_fn is None else stem_fn
    groups = parse_websearch(query)
    if not groups:
        return tokens.select(F.col("id"), F.lit(0.0).alias("score")).limit(0)
    screens: list[tuple[str, str]] = []  # (exact token, stem) per group
    for g in groups:
        pos = [t for t in g if not t.negated]
        if not pos:
            raise ValueError(
                "index-served websearch needs a positive term in every OR-group"
            )
        tok = pos[0].tokens[0]
        screens.append((tok, stem(tok)))
    terms = spark_sql_values(sorted({tok for tok, _ in screens}))
    stems = spark_sql_values(sorted({st for _, st in screens}))
    cand = (
        tf_exact.filter(f"term IN ({terms})")
        .select("id")
        .unionByName(tf_stemmed.filter(f"term IN ({stems})").select("id"))
    )
    te, ts = "tokens_exact", "tokens_stemmed"
    # no broadcast HINT on the candidate set: a high-df screen term can
    # explode it to corpus scale, and a forced broadcast would collect
    # that to the driver — AQE broadcasts while the measured size fits
    # and falls back to a shuffled semi-join past that (the same
    # no-forced-hints principle as the robots join tier). The semi-join
    # is insensitive to duplicate candidate ids, so no distinct either.
    return (
        tokens.join(cand, "id", "left_semi")
        .filter(websearch_match_sql(te, ts, groups, stem_fn=stem_fn))
        .selectExpr("id", f"{websearch_score_sql(te, ts, groups, stem_fn=stem_fn)} AS score")
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def sql_keyword_indexed(query: str, k: int = 10) -> str:
    """Oracle: the indexed path must equal the full-scan scorer, so the
    mirror IS the full-scan scorer restricted to docs containing ≥1 query
    term — same candidate semantics as the tf-row union."""
    terms = sorted(set(tokenize_py(query)))
    stems = sorted({stem_py(t) for t in terms})
    term_list = ", ".join(f"'{t}'" for t in terms)
    stem_list = ", ".join(f"'{s}'" for s in stems)
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         {sql_tokens_exact('text')} AS te,
         {sql_tokens_stemmed('text')} AS ts
  FROM documents
),
cand AS (
  SELECT id, te, ts FROM toks
  WHERE len(list_filter(te, t -> t IN ({term_list}))) > 0
     OR len(list_filter(ts, t -> t IN ({stem_list}))) > 0
),
scored AS (
  SELECT id,
         {WEIGHT_EXACT!r} * len(list_filter(te, t -> t IN ({term_list})))
         + {WEIGHT_STEMMED!r} * len(list_filter(ts, t -> t IN ({stem_list}))) AS raw
  FROM cand
)
SELECT id, raw / (raw + 1.0) AS score FROM scored
WHERE raw / (raw + 1.0) > 0.0
ORDER BY score DESC, id LIMIT {k}
""".strip()


def upsert_postings(
    postings: DataFrame,
    new_tokens: DataFrame,
    deleted_ids: "list | DataFrame | None" = None,
    token_col: str = "tokens_exact",
) -> DataFrame:
    """Incremental maintenance of an id-list table (:func:`build_postings`)
    — the Q3 analogue of plans/ivf.ivf_index_upsert: a batch of
    NEW/UPDATED docs (their token table) plus optional deletions folds in
    without re-tokenizing the corpus. Rebuild-equivalent (the
    ``postings_upsert`` oracle entry checks exactly that): the lists
    explode to (term, id) rows, :func:`fold_postings` drops every affected
    id (an upserted doc's stale terms must not linger) and unions the
    batch's rows, and one term-keyed aggregation regroups them; ``df``
    stays the list length and terms whose last doc vanished drop out.
    ``deleted_ids`` follows :func:`upsert_tf_postings`. Id-type-agnostic:
    batch and deletion ids cast to the table's own ``ids`` element type,
    so bigint doc ids and string chunk ids ("doc:idx") both maintain."""
    elem = postings.schema["ids"].dataType.elementType
    fresh = _term_ids(new_tokens, token_col).select(
        "term", F.col("id").cast(elem).alias("id")
    )
    return (
        _upsert(
            postings.select("term", F.explode("ids").alias("id")),
            new_tokens,
            deleted_ids,
            fresh,
            elem_type=elem,
        )
        .groupBy("term")
        .agg(
            F.sort_array(F.collect_list("id")).alias("ids"),
            F.count(F.lit(1)).alias("df"),
        )
    )
