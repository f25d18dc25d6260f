"""Full Snowball English stemmer (functions/porter2.py, r10).

The gate pin is the ``porter2_vocab`` oracle entry (fixed vocabulary vs
hand-derived VALUES); these units pin the same vectors without Spark, the
algorithm's edge semantics, and the corpus path (pandas UDF + the indexed
BM25 tier with a porter2-built index).
"""

import pytest
from pyspark.sql import functions as F

from connapse_spark.functions.porter2 import (
    SPEC_VECTORS,
    porter2_stem,
    porter2_stem_tokens,
)


def test_spec_vectors_golden():
    bad = [(w, porter2_stem(w), e) for w, e in SPEC_VECTORS if porter2_stem(w) != e]
    assert not bad, bad


def test_vectors_are_unique_and_cover_exceptions():
    words = [w for w, _ in SPEC_VECTORS]
    assert len(words) == len(set(words))
    # every exceptional-form class is represented
    for w in ("skis", "dying", "sky", "news", "inning", "proceed"):
        assert w in words


def test_longest_match_blocks_shorter_suffixes():
    # step 4 longest match: 'ment' matches but is outside R2, so the rule
    # STOPS — the shorter in-R2 'ent' must not fire afterwards
    assert porter2_stem("argument") == "argument"
    # step 1a: 'ss'/'us' block the bare-s rule
    assert porter2_stem("abyss") == "abyss"
    assert porter2_stem("virus") == "virus"


def test_edge_shapes():
    # <=2 letters untouched; non-English passthrough; apostrophes
    assert porter2_stem("a") == "a"
    assert porter2_stem("at") == "at"
    assert porter2_stem("'cause") == "caus"
    assert porter2_stem("mother's") == "mother"
    assert porter2_stem("数据库") == "数据库"
    assert porter2_stem("naïve") == "naïve"
    # y/Y handling: consonant-y at start, vowel-y after consonant
    assert porter2_stem("youth") == "youth"
    assert porter2_stem("flying") == "fli"
    # token-list helper mirrors the scalar
    assert porter2_stem_tokens(["running", "dogs"]) == ["run", "dog"]


def test_build_token_table_porter2_and_bm25_serving(spark, sf_dir):
    """The corpus path: stemmer='porter2' produces porter2 stems via the
    Arrow UDF (parity with the pure-Python loop on real corpus text), the
    downstream tf/doclen builds are stemmer-agnostic, and the indexed BM25
    tier with the matching stem_fn retrieves morphological variants the
    default suffix-stripper config cannot unify."""
    import os

    from connapse_spark.operators import keyword_index as ki

    docs = spark.createDataFrame(
        [
            (1, "the runner was running while others ran past"),
            (2, "she runs a consultancy for rational decisions"),
            (3, "nothing related to athletics at all here"),
            (4, "generously organized national conferences"),
        ],
        "doc_id long, text string",
    )
    toks = ki.build_token_table(docs, stemmer="porter2")
    rows = {r["id"]: r for r in toks.collect()}
    # UDF output == pure-Python loop over the exact tokens (Arrow parity)
    for r in rows.values():
        assert list(r["tokens_stemmed"]) == porter2_stem_tokens(
            list(r["tokens_exact"])
        )
    assert "run" in rows[1]["tokens_stemmed"]  # running/runner→run(ner)
    assert "run" in rows[2]["tokens_stemmed"]  # runs→run

    tf = ki.build_tf_postings(toks, "tokens_stemmed")
    dl = ki.build_doclen_table(toks)
    hits = ki.keyword_search_bm25_indexed(
        tf, dl, "running", k=4, stem_fn=porter2_stem
    ).collect()
    ids = [r["id"] for r in hits]
    assert 1 in ids and 2 in ids and 3 not in ids

    # the stem_fn seam threads through the other serving tiers too
    # (r10 review finding #2): flat batch, websearch, and single-query
    # postings tiers all retrieve porter2-unified variants
    tfe = ki.build_tf_postings(toks, "tokens_exact")
    many = ki.keyword_search_many_indexed(
        tfe, tf, [(1, "running")], k=4, stem_fn=porter2_stem
    ).collect()
    assert {r["id"] for r in many} >= {1, 2}
    ws = ki.keyword_search_websearch_indexed(
        toks, tfe, tf, "rationally", k=4, stem_fn=porter2_stem
    ).collect()
    # porter2: rationally→ration == rational→ration (the suffix stripper
    # maps rationally→rationall and finds nothing)
    assert [r["id"] for r in ws] == [2]
    single = ki.keyword_search_indexed(
        toks, tfe, tf, "runs", k=4, stem_fn=porter2_stem
    ).collect()
    assert {r["id"] for r in single} >= {1, 2}

    # the bundle CARRIES its analyzer: hybrid_search over a porter2-built
    # KeywordIndex stems query terms with porter2 automatically
    from connapse_spark.operators.search import SearchOptions, hybrid_search

    kidx = ki.build_keyword_index(docs, stemmer="porter2")
    assert kidx.stem_fn is porter2_stem
    kw = hybrid_search(
        docs, "rationally", SearchOptions(top_k=4, mode="Keyword"),
        keyword_index=kidx,
    ).collect()
    assert [r["id"] for r in kw] == [2]

    # …and through the BATCHED oracle tier (review finding: the batch
    # tier read the bundle's token arrays but stemmed queries with the
    # default stripper — porter2 matches scored 0 silently)
    from connapse_spark.operators.search import hybrid_search_many

    corp = docs.withColumn(
        "embedding", F.array(*[F.lit(0.1) for _ in range(8)])
    )
    got = hybrid_search_many(
        corp, [(1, "rationally")], top_k=4, dims=8, keyword_index=kidx
    ).collect()
    kw_hits = {r["doc_id"] for r in got if r["keyword_score"] > 0.0}
    assert kw_hits == {2}

    # real-corpus parity sweep for the UDF on sf0.001 text
    corpus = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 30)
        .select("doc_id", "text")
    )
    ct = ki.build_token_table(corpus, stemmer="porter2").collect()
    for r in ct:
        assert list(r["tokens_stemmed"]) == porter2_stem_tokens(
            list(r["tokens_exact"])
        )

    with pytest.raises(ValueError):
        ki.build_token_table(docs, stemmer="lovins")


@pytest.mark.slow
def test_porter2_threads_through_committed_serving_layout(spark, sf_dir, tmp_path):
    """The analyzer seam through the COMMITTED serving layout (r11 —
    VERDICT r10 ask #3): ingest_serving(stemmer='porter2') records the
    analyzer in the root manifest; load_serving returns the matching
    stem_fn and a bundle that serves coherently; an incremental wave
    INHERITS the analyzer with zero caller knowledge (its stemmed tokens
    are porter2 stems); a disagreeing explicit stemmer raises instead of
    committing a split-analyzer index. BM25 and websearch answers from
    the loaded cut equal the porter2 scan-side build over the live chunk
    corpus."""
    import os as _os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
    )

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 12)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base, stemmer="porter2")
    assert first["keyword_index"].stem_fn is porter2_stem

    cut = load_serving(spark, base)
    assert cut["stemmer"] == "porter2"
    assert cut["stem_fn"] is porter2_stem
    assert cut["keyword_index"].stem_fn is porter2_stem
    # the committed token table really carries porter2 stems
    for r in cut["keyword_index"].tokens.limit(5).collect():
        assert list(r["tokens_stemmed"]) == porter2_stem_tokens(
            list(r["tokens_exact"])
        )

    # incremental wave: no stemmer argument — inherited from the manifest
    b1 = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("the runner was rationally organizing races").alias("text")
    )
    w1 = ingest_serving_incremental(b1, base, rebuild_threshold=2.0)
    cut2 = load_serving(spark, base)
    assert cut2["stemmer"] == "porter2"
    new_tok = [
        r
        for r in cut2["keyword_index"].tokens.collect()
        if str(r["id"]).startswith("3:")
    ]
    assert new_tok
    for r in new_tok:
        assert list(r["tokens_stemmed"]) == porter2_stem_tokens(
            list(r["tokens_exact"])
        )

    # served BM25/websearch == porter2 scan-side build over live chunks
    live = docs.filter(F.col("doc_id") != 3).unionByName(b1)
    want = ingest_serving(live, stemmer="porter2")
    toks_live = ki.build_token_table(
        want["chunks"], id_col="chunk_id", text_col="content", stemmer="porter2"
    )
    got_bm25 = ki.keyword_search_bm25_indexed(
        cut2["tf_postings"][1],
        cut2["doclen"],
        "rationally organized",
        k=10,
        stem_fn=cut2["stem_fn"],
    ).collect()
    want_bm25 = ki.keyword_search_bm25_indexed(
        ki.build_tf_postings(toks_live, "tokens_stemmed"),
        ki.build_doclen_table(toks_live),
        "rationally organized",
        k=10,
        stem_fn=porter2_stem,
    ).collect()
    assert got_bm25 and [tuple(r) for r in got_bm25] == [tuple(r) for r in want_bm25]
    got_ws = ki.websearch_scores_indexed(
        *cut2["tf_postings"],
        *(cut2["positions_postings"] or (None, None)),
        [(1, 'rationally -nonexistentterm')],
        stem_fn=cut2["stem_fn"],
    ).collect()
    want_ws = ki.websearch_scores_indexed(
        ki.build_tf_postings(toks_live, "tokens_exact"),
        ki.build_tf_postings(toks_live, "tokens_stemmed"),
        ki.build_positions_postings(toks_live, "tokens_exact"),
        ki.build_positions_postings(toks_live, "tokens_stemmed"),
        [(1, 'rationally -nonexistentterm')],
        stem_fn=porter2_stem,
    ).collect()
    assert {tuple(r) for r in got_ws} == {tuple(r) for r in want_ws}

    # a disagreeing explicit stemmer on a later wave raises
    with pytest.raises(ValueError, match="analyzer"):
        ingest_serving_incremental(b1, base, stemmer="suffix", rebuild_threshold=2.0)
    for h in (first, w1, want):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()
