"""Tests for ingestion pipeline, ANN indexes, posting-list keyword index,
rerank/window substitution, parsers, and multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from connapse_spark.functions.embed import embed_py
from connapse_spark.operators import keyword_index, multimodal
from connapse_spark.operators.ingest import ingest, ingest_stats
from connapse_spark.operators.search import (
    SearchOptions,
    hybrid_search,
    keyword_search,
    rerank,
    resolve_mode,
    window_substitution,
)
from connapse_spark.plans import ivf
from connapse_spark.sources import parsers

QUERY = "table scan fast merge"


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# Ingest pipeline (§3.3)
# ---------------------------------------------------------------------------


def test_ingest_end_to_end(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(20)
    chunks, vectors = ingest(docs)
    c = chunks.collect()
    v = vectors.collect()
    assert len(c) == len(v) > 0
    # chunk ids are unique, vectors carry model metadata
    assert len({r["chunk_id"] for r in c}) == len(c)
    assert all(r["model_id"] == "hash-64" and r["dimensions"] == 64 for r in v)
    assert all(len(r["embedding"]) == 64 for r in v)
    # embedding is content-addressed: equal hash → equal vector
    by_hash = {}
    for r in v:
        by_hash.setdefault(r["content_hash"], set()).add(tuple(r["embedding"]))
    assert all(len(s) == 1 for s in by_hash.values())


def test_ingest_cache_skips_known_content(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(10)
    _, first = ingest(docs)
    cache = first.select("content_hash", "model_id", "dimensions", "embedding")
    _, second = ingest(docs, existing_vectors=cache)
    rows = second.collect()
    assert all(r["from_cache"] for r in rows)  # everything already embedded
    # cached vectors identical to fresh ones
    fresh = {r["chunk_id"]: list(r["embedding"]) for r in first.collect()}
    assert all(list(r["embedding"]) == fresh[r["chunk_id"]] for r in rows)


def test_ingest_stats_shape(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(10)
    chunks, vectors = ingest(docs)
    stats = ingest_stats(chunks, vectors).collect()
    assert len(stats) == 10
    assert all(r["status"] == "Ready" and r["chunk_count"] >= 1 for r in stats)


# ---------------------------------------------------------------------------
# ANN (plans/ivf.py)
# ---------------------------------------------------------------------------


def test_lsh_bucket_partitions_corpus(spark, sf_dir):
    idx = ivf.build_lsh_index(_emb(spark, sf_dir), n_planes=4)
    counts = idx.groupBy("bucket").count().collect()
    assert sum(r["count"] for r in counts) == idx.count()
    assert all(0 <= r["bucket"] < 16 for r in counts)


def test_lsh_probe_hits_come_from_query_bucket(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = embed_py(QUERY, 64)
    idx = ivf.build_lsh_index(emb, n_planes=4)
    hits = ivf.ann_lsh_topk(idx, qv, k=5, n_planes=4).collect()
    assert len(hits) >= 1
    assert len({r["bucket"] for r in hits}) == 1  # single probed bucket


def test_ivf_probe_recall_improves_with_nprobe(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = embed_py(QUERY, 64)
    index, centroids = ivf.build_ivf_index(emb, n_lists=4, seed=42)
    index = index.cache()
    from connapse_spark.operators.search import vector_knn

    exact = vector_knn(emb, qv, k=10)
    r_all = ivf.ivf_recall_vs_exact(index, centroids, exact, qv, k=10, nprobe=4)
    r_one = ivf.ivf_recall_vs_exact(index, centroids, exact, qv, k=10, nprobe=1)
    assert r_all == 1.0  # probing every list IS the exact scan
    assert 0.0 <= r_one <= r_all
    index.unpersist()


# ---------------------------------------------------------------------------
# Posting-list keyword index — must equal the full scan
# ---------------------------------------------------------------------------


def test_keyword_indexed_equals_full_scan(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    tokens = keyword_index.build_token_table(docs)
    tfe = keyword_index.build_tf_postings(tokens, "tokens_exact")
    tfs = keyword_index.build_tf_postings(tokens, "tokens_stemmed")
    indexed = keyword_index.keyword_search_indexed(tokens, tfe, tfs, QUERY, k=15).collect()
    full = keyword_search(docs, QUERY, k=15).collect()
    assert [(r["id"], r["score"]) for r in indexed] == [
        (r["doc_id"], r["score"]) for r in full
    ]


def test_hybrid_served_from_index_equals_full_scan(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir).select(F.col("vec_id").alias("id"), "embedding")
    idx = keyword_index.build_keyword_index(docs).persist()
    opts = SearchOptions(top_k=10)
    full = hybrid_search(docs, QUERY, opts, vectors=emb).collect()
    served = hybrid_search(docs, QUERY, opts, vectors=emb, keyword_index=idx).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in full]
    # filtered search: the predicate must reach the indexed candidate set
    pred = F.col("doc_id") % 2 == 0
    full_f = hybrid_search(docs, QUERY, opts, vectors=emb, predicate=pred).collect()
    served_f = hybrid_search(
        docs, QUERY, opts, vectors=emb, predicate=pred, keyword_index=idx
    ).collect()
    assert [tuple(r) for r in served_f] == [tuple(r) for r in full_f]
    assert all(r["id"] % 2 == 0 for r in served_f)
    idx.unpersist()


def test_batched_tiers_accept_token_table(spark, sf_dir):
    from connapse_spark.operators.search import hybrid_search_many, keyword_search_many

    docs = _docs(spark, sf_dir).limit(200)
    idx = keyword_index.build_keyword_index(docs).persist()
    queries = [(1, QUERY), (2, "fast merge"), (3, "index scan")]
    kw_full = keyword_search_many(docs, queries, k=5).collect()
    kw_idx = keyword_search_many(docs, queries, k=5, tokens=idx.tokens).collect()
    assert [tuple(r) for r in kw_idx] == [tuple(r) for r in kw_full]
    corpus = docs.join(
        _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
    )
    hy_full = hybrid_search_many(corpus, queries, top_k=5).collect()
    hy_idx = hybrid_search_many(corpus, queries, top_k=5, keyword_index=idx).collect()
    assert [tuple(r) for r in hy_idx] == [tuple(r) for r in hy_full]
    idx.unpersist()


def test_batched_hybrid_serves_vector_for_unindexed_docs(spark, sf_dir):
    """A corpus row missing from the keyword index (ingested after the
    index build) must still serve the VECTOR branch — the index join is
    left, not inner; an inner join silently dropped such rows from both
    branches."""
    from connapse_spark.operators.search import hybrid_search_many

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    idx = keyword_index.build_keyword_index(
        docs.filter(F.col("doc_id") < 60)
    ).persist()  # stale index: docs 60-99 ingested after the build
    corpus = docs.join(
        _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
    )
    out = hybrid_search_many(corpus, [(1, QUERY)], top_k=100, keyword_index=idx)
    ids = {r["doc_id"] for r in out.collect()}
    unindexed_hits = {i for i in ids if i >= 60}
    assert unindexed_hits, "docs outside the index must still rank via vectors"
    idx.unpersist()


def test_keyword_many_indexed_equals_scan_tier(spark, sf_dir):
    """tf-postings-served batch keyword must match keyword_search_many
    row-for-row (same scores, same ranks) — the index is physical."""
    from connapse_spark.operators.search import keyword_search_many

    docs = _docs(spark, sf_dir)
    tokens = keyword_index.build_token_table(docs)
    tfe = keyword_index.build_tf_postings(tokens, "tokens_exact")
    tfs = keyword_index.build_tf_postings(tokens, "tokens_stemmed")
    queries = [(1, QUERY), (2, "fast merge"), (3, "index scan"), (4, "")]
    want = keyword_search_many(docs, [q for q in queries if q[1]], k=7).collect()
    got = keyword_index.keyword_search_many_indexed(tfe, tfs, queries, k=7).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # empty batch: typed empty frame, no crash
    assert keyword_index.keyword_search_many_indexed(tfe, tfs, [], k=7).count() == 0


def test_hybrid_many_indexed_equals_fast_tier(spark, sf_dir):
    """tf-postings-served batched hybrid must be BIT-equal to the fast
    tier: same BLAS vector branch, integer keyword math, same fuse —
    the postings table only replaces where keyword tf counts come from."""
    from connapse_spark.operators.search import hybrid_search_many_fast

    docs = _docs(spark, sf_dir)
    corpus = docs.join(
        _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
    )
    tokens = keyword_index.build_token_table(docs)
    tfe = keyword_index.build_tf_postings(tokens, "tokens_exact")
    tfs = keyword_index.build_tf_postings(tokens, "tokens_stemmed")
    queries = [(1, QUERY), (2, "fast merge"), (3, "index scan"), (4, "")]
    want = hybrid_search_many_fast(corpus, queries, top_k=7).collect()
    got = hybrid_search_many_fast(
        corpus, queries, top_k=7, tf_postings=(tfe, tfs)
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # filtered: predicate masking + allowed-pairs semi-join still applies
    preds = {1: F.col("doc_id") % 2 == 0}
    want_f = hybrid_search_many_fast(
        corpus, queries[:2], top_k=7, predicates=preds
    ).collect()
    got_f = hybrid_search_many_fast(
        corpus, queries[:2], top_k=7, predicates=preds, tf_postings=(tfe, tfs)
    ).collect()
    assert [tuple(r) for r in got_f] == [tuple(r) for r in want_f]
    assert all(r["doc_id"] % 2 == 0 for r in got_f if r["qid"] == 1)


def test_hybrid_many_indexed_stale_index_serves_vector(spark, sf_dir):
    """Docs ingested after the postings build must still rank through the
    vector branch (which always scans the corpus) — the index contract of
    the fold tier holds for the postings-served fast tier too."""
    from connapse_spark.operators.search import hybrid_search_many_fast

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    stale = docs.filter(F.col("doc_id") < 60)
    tokens = keyword_index.build_token_table(stale)
    tfe = keyword_index.build_tf_postings(tokens, "tokens_exact")
    tfs = keyword_index.build_tf_postings(tokens, "tokens_stemmed")
    corpus = docs.join(
        _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
    )
    out = hybrid_search_many_fast(
        corpus, [(1, QUERY)], top_k=100, tf_postings=(tfe, tfs)
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert {i for i in ids if i >= 60}, "unindexed docs must rank via vectors"
    assert all(r["keyword_score"] == 0.0 for r in out if r["doc_id"] >= 60)


def test_upsert_tf_postings_rebuild_equivalent(spark, sf_dir):
    """Incremental tf-postings must equal a from-scratch rebuild over the
    post-upsert corpus: stale terms of updated docs gone, deleted ids
    gone, fresh tf counts in; empty batch + no deletes is the identity."""
    from connapse_spark.operators.keyword_index import upsert_tf_postings

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 80)
    base = keyword_index.build_tf_postings(keyword_index.build_token_table(docs))
    updated = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.lit("fresh words only "), F.col("doc_id")).alias("text")
    )
    deleted = [3, 11]
    got = upsert_tf_postings(
        base, keyword_index.build_token_table(updated), deleted_ids=deleted
    )
    post = docs.filter(~F.col("doc_id").isin(deleted)).filter(
        F.col("doc_id") % 7 != 0
    ).select("doc_id", "text").unionByName(updated)
    want = keyword_index.build_tf_postings(keyword_index.build_token_table(post))
    key = lambda r: (r["term"], r["id"])  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, want.collect()), key=lambda t: (t[0], t[1])
    )
    # identity: empty batch, no deletes
    empty = keyword_index.build_token_table(docs.filter(F.lit(False)))
    same = upsert_tf_postings(base, empty)
    assert same.count() == base.count()


def test_postings_df_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(50)
    tokens = keyword_index.build_token_table(docs)
    postings = keyword_index.build_postings(tokens, "tokens_exact")
    row = postings.filter(F.col("term") == "the").collect()
    if row:  # df == number of ids; ids sorted
        assert row[0]["df"] == len(row[0]["ids"])
        assert row[0]["ids"] == sorted(row[0]["ids"])


# ---------------------------------------------------------------------------
# Rerank / window substitution / mode resolution
# ---------------------------------------------------------------------------


def test_rerank_replaces_score_keeps_fused(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    hits = hybrid_search(docs, QUERY, SearchOptions(top_k=5)).join(
        docs.select(F.col("doc_id").alias("id"), "text"), "id"
    )
    out = rerank(hits, QUERY, content_col="text").collect()
    assert len(out) == 5
    assert all(0.0 <= r["score"] < 1.0 for r in out)
    assert all("fused_score" in r.asDict() for r in out)
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_rerank_topn_drops_or_keeps_tail(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    hits = hybrid_search(docs, QUERY, SearchOptions(top_k=8)).join(
        docs.select(F.col("doc_id").alias("id"), "text"), "id"
    )
    fused = {r["id"]: r["score"] for r in hits.collect()}
    top3_ids = {
        r["id"]
        for r in sorted(hits.collect(), key=lambda r: (-r["score"], r["id"]))[:3]
    }
    dropped = rerank(hits, QUERY, content_col="text", top_n=3).collect()
    assert len(dropped) == 3 and {r["id"] for r in dropped} == top3_ids
    kept = rerank(hits, QUERY, content_col="text", top_n=3, keep_tail=True).collect()
    assert len(kept) == 8
    assert [r["rank"] for r in kept] == list(range(1, 9))
    # head reranked by provider score; tail keeps fused score + fused order
    head, tail = kept[:3], kept[3:]
    assert {r["id"] for r in head} == top3_ids
    assert all(r["score"] == r["fused_score"] == fused[r["id"]] for r in tail)
    tail_scores = [r["fused_score"] for r in tail]
    assert tail_scores == sorted(tail_scores, reverse=True)


def test_window_substitution(spark):
    df = spark.createDataFrame(
        [("a", "sent", {"window": "before sent after"}), ("b", "solo", {})],
        "id string, content string, metadata map<string,string>",
    )
    out = {r["id"]: r["content"] for r in window_substitution(df).collect()}
    assert out["a"] == "before sent after"
    assert out["b"] == "solo"


def test_resolve_mode_cross_model_override():
    assert resolve_mode("Semantic", True) == "Hybrid"
    assert resolve_mode("Semantic", False) == "Semantic"
    assert resolve_mode("Keyword", True) == "Keyword"


# ---------------------------------------------------------------------------
# Parsers
# ---------------------------------------------------------------------------


def test_parse_text_metadata(spark):
    df = spark.createDataFrame(
        [
            (1, "/d/a.md", "# Title\nbody text"),
            (2, "/d/b.csv", "a,b,c\n1,2,3"),
            (3, "/d/c.csv", "x;y;z\n1;2;3"),
            (4, "/d/d.txt", "plain\ntext\nlines"),
        ],
        "doc_id long, path string, text string",
    )
    out = {r["doc_id"]: r for r in parsers.parse_text_documents(df).collect()}
    assert out[1]["file_type"] == ".md" and out[1]["has_markdown_headers"]
    assert out[2]["csv_delimiter"] == ","
    assert out[3]["csv_delimiter"] == ";"
    assert out[4]["file_type"] == ".txt" and out[4]["line_count"] == 3
    assert out[4]["csv_delimiter"] is None


def test_binary_parser_real_decode(spark):
    from connapse_spark.sources.docgen import fixture_corpus

    df = spark.createDataFrame(fixture_corpus(), "path string, content binary")
    out = {r["path"]: r for r in parsers.parse_binary_documents(df).collect()}
    rep = out["/fx/report.pdf"]
    assert rep["n_pages"] == 2 and rep["parse_error"] is None
    assert "--- Page 1 ---" in rep["content"] and "--- Page 2 ---" in rep["content"]
    assert "Quarterly results" in rep["content"]
    assert rep["metadata"]["Title"] == "Q3 Report"
    doc = out["/fx/notes.docx"]
    assert "h1 | h2" in doc["content"] and doc["metadata"]["Author"] == "alice"
    deck = out["/fx/deck.pptx"]
    assert "--- Slide 3 ---" in deck["content"] and deck["n_pages"] == 3
    assert out["/fx/unknown.bin"]["parse_error"] == "UnsupportedFormat"
    assert out["/fx/ruined.docx"]["parse_error"] == "BadZipFile"


def test_supported_extension_gate(spark):
    df = spark.createDataFrame(
        [("/a/b.md",), ("/a/b.exe",), ("/a/b.pdf",)], "path string"
    )
    kept = [r["path"] for r in df.filter(parsers.is_supported_expr(F.col("path"))).collect()]
    assert kept == ["/a/b.md", "/a/b.pdf"]


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_feature_extraction(spark, sf_dir):
    media = multimodal.synthesize_media(_docs(spark, sf_dir).limit(10))
    feats = multimodal.extract_image_features(media).collect()
    assert len(feats) == 10
    # text bytes are no image: the stub tier classifies (fake-but-stable
    # dims + hash) and KEEPS its UnsupportedFormat label (r8 — so
    # perceptual joins can exclude it); the features still come back
    assert all(r["decode_error"] == "UnsupportedFormat" for r in feats)
    assert all(len(r["phash"]) == 16 for r in feats)
    # determinism: rerun → identical
    feats2 = multimodal.extract_image_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_multimodal_resize_bounds(spark, sf_dir):
    media = multimodal.synthesize_media(_docs(spark, sf_dir).limit(10))
    out = multimodal.resize_images(media, max_side=128).collect()
    assert all(max(r["width"], r["height"]) <= 128 for r in out)


def test_multimodal_frame_sampling(spark, sf_dir):
    media = multimodal.synthesize_media(_docs(spark, sf_dir).limit(5), "video")
    frames = multimodal.sample_frames(media, every_ms=1000, max_frames=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    for rows in by_id.values():
        assert 1 <= len(rows) <= 4
        assert [r["frame_index"] for r in sorted(rows, key=lambda x: x["frame_index"])] == list(
            range(len(rows))
        )


# ---------------------------------------------------------------------------
# Native markdown sections (T4) / doc-aware chunker (C4)
# ---------------------------------------------------------------------------


def test_native_markdown_sections_match_python_walker(spark):
    from connapse_spark.operators.chunking import chunk_doc_aware, markdown_sections
    from connapse_spark.operators.chunkers import walk_markdown_sections
    from tests.test_chunkers import MARKDOWN

    df = spark.createDataFrame([(1, MARKDOWN)], "doc_id int, text string")
    native = markdown_sections(df).collect()
    py = walk_markdown_sections(MARKDOWN)
    assert [r["header_path"] for r in native] == [s.header_path for s in py]
    assert [(r["depth"], r["start"], r["end"], r["body_start"]) for r in native] == [
        (s.depth, s.start, s.end, s.body_start) for s in py
    ]
    chunks = chunk_doc_aware(df, size=500).collect()
    assert [c["content"].split("\n\n")[0] for c in chunks] == [
        s.header_path for s in py
    ]
    for c, s in zip(chunks, py):
        body = MARKDOWN[s.body_start : s.end]
        assert c["content"] == s.header_path + "\n\n" + body


def test_native_recursive_pack_invariants(spark):
    from connapse_spark.operators.chunking import chunk_recursive_native

    text = "para one is small\n\npara two also small\n\n" + ("x" * 300) + "\n\nlast"
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    rows = chunk_recursive_native(df, max_chars=50).collect()
    # content tiles the document exactly (separators retained)
    assert "".join(r["content"] for r in rows) == text
    # the two small paragraphs pack together (greedy), the giant one is
    # sub-split into 50-char windows, 'last' rides after it
    packs = {}
    for r in rows:
        packs.setdefault(r["pack_index"], []).append(r)
    joined0 = "".join(r["content"] for r in packs[0])
    assert joined0 == "para one is small\n\npara two also small\n\n"
    assert len(packs[1]) == 7  # 302 chars (300 x's + trailing sep) / 50
    assert all(len(r["content"]) <= 50 for r in rows)


def test_native_sentence_aware_packs_whole_sentences(spark):
    from connapse_spark.operators.chunking import chunk_sentence_aware_native

    text = "One short. Two short. " + ("y" * 120) + ". Tail here."
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    rows = chunk_sentence_aware_native(df, max_chars=40).collect()
    contents = [r["content"] for r in rows]
    assert contents[0] == "One short. Two short."  # packed pair
    assert contents[1].startswith("y" * 120)  # oversize sentence stands alone
    assert contents[2] == "Tail here."
    # never splits a sentence: each chunk is whole sentences
    for c in contents:
        assert not c.startswith(" ") and not c.endswith(" ")


def test_ivf_knn_join_recall_vs_exact(spark, sf_dir):
    from connapse_spark.operators.similarity import knn_join
    from connapse_spark.plans.ivf import build_ivf_index, ivf_knn_join

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    index, cents = build_ivf_index(emb, n_lists=4, seed=42)
    index = index.cache()
    exact = knn_join(queries, emb, k=5)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # probing every list IS exact
    full = ivf_knn_join(queries, index, cents, k=5, nprobe=4)
    got = {}
    for r in full.collect():
        got.setdefault(r["query_id"], set()).add(r["id"])
    # exact knn_join excludes self-matches; the IVF join keeps them, so
    # probing ALL lists must reproduce the exact top-5 minus the slot the
    # self-match displaces
    for q in ex:
        assert len(ex[q] & (got[q] - {q})) >= 4
    # fewer probes -> a valid (possibly lossier) subset discipline
    one = ivf_knn_join(queries, index, cents, k=5, nprobe=1)
    assert one.count() <= full.count()
    assert {r["query_id"] for r in one.collect()} == set(range(8))
    index.unpersist()


def test_int8_quantize_roundtrip_error_bound(spark, sf_dir):
    from connapse_spark.functions.vector import (
        dequantize_expr,
        quantize_expr,
        to_double_array,
    )

    emb = _emb(spark, sf_dir)
    v = to_double_array(F.col("embedding"))
    q = quantize_expr(v)
    rows = emb.select(
        q["scale"].alias("scale"),
        q["codes"].alias("codes"),
        F.array_max(F.zip_with(v, dequantize_expr(q), lambda a, b: F.abs(a - b))).alias("err"),
    ).collect()
    for r in rows:
        assert all(-127 <= c <= 127 for c in r["codes"])
        # symmetric quantizer: reconstruction error <= half a step
        assert r["err"] <= r["scale"] / 2 + 1e-12


def test_quantized_knn_recall_vs_exact(spark, sf_dir):
    from connapse_spark.functions.vector import quantize_expr, to_double_array
    from connapse_spark.operators.search import vector_knn, vector_knn_quantized

    emb = _emb(spark, sf_dir)
    qv = embed_py(QUERY, 64)
    exact = {r["vec_id"] for r in vector_knn(emb, qv, k=10, id_col="vec_id").collect()}
    q = quantize_expr(to_double_array(F.col("embedding")))
    qidx = emb.select(
        "vec_id", q["codes"].alias("codes"), q["scale"].alias("scale")
    )
    approx = {r["vec_id"] for r in vector_knn_quantized(qidx, qv, k=10).collect()}
    # int8 cosine keeps most of the exact top-10
    assert len(exact & approx) >= 8


def _want_tf_all(want):
    """The full kind-partitioned rows an ingest_serving layout commits:
    exact∪stemmed tf postings plus the doclen partition (kind='doclen',
    term='', tf=dl — r10, BM25's second serving structure), derived from
    the same chunk corpus the want-side pair came from."""
    from connapse_spark.operators import keyword_index as ki

    toks = ki.build_token_table(want["chunks"], id_col="chunk_id", text_col="content")
    dl = ki.build_doclen_table(toks).select(
        F.lit("doclen").alias("kind"),
        F.lit("").alias("term"),
        "id",
        F.col("dl").cast("long").alias("tf"),
    )
    return (
        want["tf_postings"][0].withColumn("kind", F.lit("exact"))
        .unionByName(want["tf_postings"][1].withColumn("kind", F.lit("stemmed")))
        .select("kind", "term", "id", "tf")
        .unionByName(dl)
    )


def test_ingest_serving_builds_every_structure(spark, sf_dir, tmp_path):
    """The capstone write path: one ingest run emits chunks, vectors,
    keyword index, tf-postings, and the IVF bundle; the fully index-served
    hybrid over the chunk corpus is row-equal to the brute pipeline, both
    from the in-memory bundles and after reloading from the committed
    on-disk layout."""
    import os as _os

    from connapse_spark.operators.ingest import ingest_serving
    from connapse_spark.operators.search import SearchOptions, hybrid_search
    from connapse_spark.plans import ivf as _ivf
    from connapse_spark.sources import snapshots as snaps

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    base = str(tmp_path / "serving")
    # MLlib build (not seeded): chunk_ids are strings ("doc:idx"), and the
    # seeded builder's list_id-from-seed-id trick requires numeric ids
    out = ingest_serving(docs, base_dir=base, nprobe=99)
    corpus = out["chunks"].select(
        F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
    )
    vecs = out["vectors"].select(F.col("chunk_id").alias("id"), "embedding")
    opts = SearchOptions(top_k=10)
    q = "the quick brown fox"
    brute = hybrid_search(corpus, q, opts, vectors=vecs).collect()
    served = hybrid_search(
        corpus, q, opts,
        keyword_index=out["keyword_index"],
        vector_index=out["vector_index"],
    ).collect()
    assert served and [tuple(r) for r in served] == [tuple(r) for r in brute]

    # committed layout round-trips: snapshot tables + reloadable IVF bundle
    assert snaps.latest_version(_os.path.join(base, "chunks")) is not None
    assert snaps.latest_version(_os.path.join(base, "chunk_vectors")) is not None
    tf = snaps.read_snapshot(spark, _os.path.join(base, "tf_postings"))
    assert {r["kind"] for r in tf.select("kind").distinct().collect()} == {
        "exact", "stemmed", "doclen"
    }
    # positions postings committed too (r10): the phrase tier serves off
    # the reloaded cut identically to the in-memory bundles
    from connapse_spark.operators.ingest import load_serving as _ls

    cut = _ls(spark, base, nprobe=99)
    assert cut["positions_postings"] is not None
    pq = [(1, '"table scan"')]
    from_disk = keyword_index.keyword_search_many_phrase_indexed(
        *cut["positions_postings"], pq, k=5
    ).collect()
    in_mem = keyword_index.keyword_search_many_phrase_indexed(
        *out["positions_postings"], pq, k=5
    ).collect()
    assert [tuple(r) for r in from_disk] == [tuple(r) for r in in_mem]
    from connapse_spark.operators.ingest import load_serving

    stored = load_serving(spark, base, nprobe=99)["vector_index"]
    reloaded = hybrid_search(corpus, q, opts, vector_index=stored).collect()
    brute_vec_only = hybrid_search(corpus, q, opts, vectors=vecs).collect()
    assert [tuple(r) for r in reloaded] == [tuple(r) for r in brute_vec_only]
    out["chunks"].unpersist()


# measured on the suite's local[4] session: 65 jobs; with the copy-on-write
# core that probed by min/max range and broadcast joins, 110
WAVE_JOB_BUDGET = 70


def test_ingest_serving_incremental_wave_job_budget(spark, sf_dir, tmp_path):
    """One small incremental wave (one doc updated, one deleted) over a
    40-doc layout stays within WAVE_JOB_BUDGET Spark jobs, counted by job
    group: the wave head resolves its doc ids on the driver, the chunk,
    vector and token copy-on-write commits probe by key (no shuffle, no
    join), the model guard reads manifest stats, and the one-list IVF
    index skips the drift gauge. The wave must still apply, and a wave
    for another model must still be refused."""
    import uuid

    from connapse_spark.operators.ingest import ingest_serving, ingest_serving_incremental
    from connapse_spark.sources import snapshots as snaps

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 40).select("doc_id", "text")
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base)
    first["chunks"].unpersist(), first["vectors"].unpersist()
    batch = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("entirely new content about table scan joins").alias("text")
    )
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"wave-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "incremental wave budget")
    try:
        out = ingest_serving_incremental(batch, base, deleted_doc_ids=[7])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    out["chunks"].unpersist(), out["vectors"].unpersist()
    assert len(jobs) <= WAVE_JOB_BUDGET, len(jobs)
    chunks = snaps.read_snapshot(spark, os.path.join(base, "chunks"), out["chunks_version"])
    assert chunks.filter(F.col("document_id").isin(7)).count() == 0
    assert [r["content"] for r in chunks.filter(F.col("document_id").isin(3)).collect()] == [
        "entirely new content about table scan joins"
    ]
    # the model guard: the manifest's model_id stats differ from the
    # wave's model, so the guard scans those files and refuses the wave
    with pytest.raises(ValueError, match="besides"):
        ingest_serving_incremental(batch, base, model_id="other-model")


def test_serving_layout_has_no_id_list_postings(spark, sf_dir, tmp_path):
    """The serving layout keeps no id-list ``postings`` table: a fresh
    ingest_serving commits no ``postings/`` directory and its manifest
    pins none. A legacy cut that still pins one migrates on its next
    wave: the published cut drops the pin, and the single-query keyword
    tiers over load_serving's bundle (token table + tf pair) equal a
    rebuild and the scan tier over the live chunks."""
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
        publish_serving,
    )
    from connapse_spark.operators.search import SearchOptions, hybrid_search
    from connapse_spark.sources import snapshots as snaps

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 20).select("doc_id", "text")
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base)
    first["chunks"].unpersist(), first["vectors"].unpersist()
    m = snaps.load_manifest(os.path.join(base, "_serving"))
    assert not os.path.exists(os.path.join(base, "postings"))
    assert "postings" not in m["tables"]

    # a legacy cut: the id-list table committed and pinned beside the rest
    toks = snaps.read_snapshot(spark, os.path.join(base, "tokens"))
    legacy = (
        keyword_index.build_postings(toks, "tokens_exact")
        .withColumn("kind", F.lit("exact"))
        .unionByName(
            keyword_index.build_postings(toks, "tokens_stemmed").withColumn(
                "kind", F.lit("stemmed")
            )
        )
    )
    pin = snaps.commit_snapshot(
        legacy, os.path.join(base, "postings"), partition_by=["kind"]
    )
    publish_serving(
        base,
        {**m["tables"], "postings": pin},
        **{k: v for k, v in m.items() if k not in ("tables", "version")},
    )

    batch = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("entirely new content about table scan joins").alias("text")
    )
    out = ingest_serving_incremental(batch, base, deleted_doc_ids=[7])
    out["chunks"].unpersist(), out["vectors"].unpersist()
    cut = load_serving(spark, base)
    assert "postings" not in cut["tables"]

    chunks = snaps.read_snapshot(
        spark, os.path.join(base, "chunks"), version=cut["tables"]["chunks"]
    )
    corpus = chunks.select(
        F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
    )
    rebuilt = keyword_index.build_keyword_index(corpus)
    for q, ws in (("table scan joins", False), ('"table scan" joins -merge', True)):
        opts = SearchOptions(top_k=10, mode="Keyword", websearch=ws)
        got = hybrid_search(corpus, q, opts, keyword_index=cut["keyword_index"]).collect()
        want = hybrid_search(corpus, q, opts, keyword_index=rebuilt).collect()
        scan = hybrid_search(corpus, q, opts).collect()
        assert got and [tuple(r) for r in got] == [tuple(r) for r in want]
        assert [tuple(r) for r in got] == [tuple(r) for r in scan]


@pytest.mark.slow
def test_ingest_serving_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental wave (doc 3 updated, doc 7 deleted) over a committed
    serving layout must leave every structure equal to a from-scratch
    ingest_serving over the live corpus: chunks/vectors row sets,
    tf-postings, and the IVF-served semantic answers; unchanged documents'
    embeddings must ride the content-addressed cache instead of
    re-embedding."""
    import os as _os

    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
    )
    from connapse_spark.operators.search import SearchOptions, hybrid_search
    from connapse_spark.sources import snapshots as snaps

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base, nprobe=99)

    batch = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("entirely new content about table scan joins").alias("text")
    )
    out = ingest_serving_incremental(
        batch, base, deleted_doc_ids=[7], nprobe=99, rebuild_threshold=2.0
    )
    # updated doc rides fresh embeds; its vectors are not from_cache
    assert all(not r["from_cache"] for r in out["vectors"].collect())
    # a wave re-ingesting IDENTICAL content must ride the content-addressed
    # cache end to end: every vector from_cache, zero embedder work
    rewave = ingest_serving_incremental(batch, base, nprobe=99, rebuild_threshold=2.0)
    rows_cached = rewave["vectors"].collect()
    assert rows_cached and all(r["from_cache"] for r in rows_cached)
    rewave["chunks"].unpersist(), rewave["vectors"].unpersist()

    live = docs.filter(~F.col("doc_id").isin(3, 7)).unionByName(batch)
    want = ingest_serving(live, nprobe=99)

    def rows(df, cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    got_chunks = snaps.read_snapshot(spark, _os.path.join(base, "chunks"))
    assert rows(got_chunks, ["chunk_id", "content"]) == rows(
        want["chunks"], ["chunk_id", "content"]
    )
    got_tf = snaps.read_snapshot(spark, _os.path.join(base, "tf_postings"))
    want_tf = _want_tf_all(want)
    assert rows(got_tf, ["kind", "term", "id", "tf"]) == rows(
        want_tf, ["kind", "term", "id", "tf"]
    )
    # BM25 serves from the incrementally-maintained pair identically to
    # one built from scratch over the live corpus (upsert_doclen end to end)
    from connapse_spark.operators import keyword_index as ki

    got_bm25 = ki.keyword_search_bm25_indexed(
        got_tf.filter(F.col("kind") == "stemmed").select("term", "id", "tf"),
        ki.read_doclen(spark, _os.path.join(base, "tf_postings")),
        "table scan joins",
        k=10,
    ).collect()
    want_bm25 = ki.keyword_search_bm25_indexed(
        want["tf_postings"][1],
        want_tf.filter(F.col("kind") == "doclen").select(
            "id", F.col("tf").alias("dl")
        ),
        "table scan joins",
        k=10,
    ).collect()
    assert got_bm25 and [tuple(r) for r in got_bm25] == [tuple(r) for r in want_bm25]
    # the maintained positions table equals a from-scratch rebuild too
    # (upsert_positions_postings through the serving layout, r10)
    got_pos = snaps.read_snapshot(spark, _os.path.join(base, "positions_postings"))
    want_pos = want["positions_postings"][0].withColumn(
        "kind", F.lit("exact")
    ).unionByName(
        want["positions_postings"][1].withColumn("kind", F.lit("stemmed"))
    )
    canon_pos = lambda df: sorted(  # noqa: E731
        (r["kind"], r["term"], r["id"], tuple(r["positions"]))
        for r in df.select("kind", "term", "id", "positions").collect()
    )
    assert canon_pos(got_pos) == canon_pos(want_pos)
    # the maintained IVF bundle answers identically to a brute scan over
    # the live corpus (nprobe=99 covers every list)
    corpus = got_chunks.select(
        F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
    )
    vecs = snaps.read_snapshot(spark, _os.path.join(base, "chunk_vectors")).select(
        F.col("chunk_id").alias("id"), "embedding"
    )
    opts = SearchOptions(top_k=10, mode="Semantic")
    served = hybrid_search(
        corpus, "table scan joins", opts, vector_index=out["vector_index"]
    ).collect()
    brute = hybrid_search(corpus, "table scan joins", opts, vectors=vecs).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in brute]
    # deleted doc 7 serves nowhere
    assert not any(str(r["id"]).startswith("7:") for r in served)
    for h in (first, out, want):
        h["chunks"].unpersist(), h["vectors"].unpersist()


@pytest.mark.slow
def test_ingest_serving_incremental_multi_wave(spark, sf_dir, tmp_path):
    """Three compounding waves — updates, deletes, and documents that did
    not exist at the initial build — must leave the committed layout equal
    to a from-scratch ingest over the final live corpus (incremental state
    bugs compound; one green wave does not prove three)."""
    import os as _os

    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
    )
    from connapse_spark.sources import snapshots as snaps

    all_docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 30)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    handles = [ingest_serving(all_docs.filter(F.col("doc_id") < 15), base_dir=base)]

    # wave 1: update docs 2,4; delete doc 9
    w1 = all_docs.filter(F.col("doc_id").isin(2, 4)).select(
        "doc_id", F.concat(F.lit("updated once "), F.col("text")).alias("text")
    )
    handles.append(ingest_serving_incremental(w1, base, deleted_doc_ids=[9]))
    # wave 2: brand-new docs 20-24 (not in the initial build)
    w2 = all_docs.filter(F.col("doc_id").between(20, 24))
    handles.append(ingest_serving_incremental(w2, base))
    # wave 3: re-update doc 2 again; delete the wave-2 doc 21
    w3 = all_docs.filter(F.col("doc_id") == 2).select(
        "doc_id", F.lit("updated twice entirely different words").alias("text")
    )
    handles.append(ingest_serving_incremental(w3, base, deleted_doc_ids=[21]))

    live = (
        all_docs.filter(F.col("doc_id") < 15)
        .filter(~F.col("doc_id").isin(2, 4, 9))
        .unionByName(all_docs.filter(F.col("doc_id").isin(20, 22, 23, 24)))
        .unionByName(
            all_docs.filter(F.col("doc_id") == 4).select(
                "doc_id",
                F.concat(F.lit("updated once "), F.col("text")).alias("text"),
            )
        )
        .unionByName(w3)
    )
    want = ingest_serving(live)
    handles.append(want)

    def rows(df, cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    got_chunks = snaps.read_snapshot(spark, _os.path.join(base, "chunks"))
    assert rows(got_chunks, ["chunk_id", "content"]) == rows(
        want["chunks"], ["chunk_id", "content"]
    )
    got_vecs = snaps.read_snapshot(spark, _os.path.join(base, "chunk_vectors"))
    assert rows(got_vecs, ["chunk_id", "content_hash"]) == rows(
        want["vectors"], ["chunk_id", "content_hash"]
    )
    got_tf = snaps.read_snapshot(spark, _os.path.join(base, "tf_postings"))
    want_tf = _want_tf_all(want)
    assert rows(got_tf, ["kind", "term", "id", "tf"]) == rows(
        want_tf, ["kind", "term", "id", "tf"]
    )
    # the maintained IVF index covers exactly the live chunk ids
    from connapse_spark.operators.ingest import load_serving

    stored = load_serving(spark, base)["vector_index"]
    assert {r["id"] for r in stored.index.select("id").collect()} == {
        r["chunk_id"] for r in want["chunks"].select("chunk_id").collect()
    }
    for h in handles:
        h["chunks"].unpersist(), h["vectors"].unpersist()
    all_docs.unpersist()


def test_read_tf_postings_serves_committed_layout(spark, sf_dir, tmp_path):
    """read_tf_postings over an ingest_serving-committed layout must serve
    a batched keyword query identical to the in-memory tf pair."""
    import os as _os

    from connapse_spark.operators.ingest import ingest_serving
    from connapse_spark.operators.keyword_index import (
        keyword_search_many_indexed,
        read_tf_postings,
    )

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 30)
        .select("doc_id", "text")
    )
    base = str(tmp_path / "serving")
    out = ingest_serving(docs, base_dir=base)
    queries = [(1, QUERY), (2, "fast merge")]
    mem = keyword_search_many_indexed(*out["tf_postings"], queries, k=5).collect()
    tfe, tfs = read_tf_postings(spark, _os.path.join(base, "tf_postings"))
    disk = keyword_search_many_indexed(tfe, tfs, queries, k=5).collect()
    assert disk and [tuple(r) for r in disk] == [tuple(r) for r in mem]
    out["chunks"].unpersist(), out["vectors"].unpersist()


@pytest.mark.slow
def test_ingest_serving_incremental_pending_mode(spark, sf_dir, tmp_path):
    """tf_mode='pending' appends the wave's postings + tombstones to the
    pending delta in O(batch); resolve_pending(base, delta) must then serve the
    same postings the overwrite mode would have committed."""
    import os as _os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
    )

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base)
    batch = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("pending regime new words").alias("text")
    )
    out = ingest_serving_incremental(
        batch, base, deleted_doc_ids=[7], tf_mode="pending", rebuild_threshold=2.0
    )
    resolved = ki.resolve_pending(
        spark, _os.path.join(base, "tf_postings"), _os.path.join(base, "tf_pending")
    )
    live = docs.filter(~F.col("doc_id").isin(3, 7)).unionByName(batch)
    want = ingest_serving(live)
    # the resolved view carries the doclen partition too: the base commit
    # wrote it, the pending delta's tombstones + latest-batch doclen rows
    # maintain it through resolve_pending with zero special-casing (r10)
    want_tf = _want_tf_all(want)
    cols = ["kind", "term", "id", "tf"]
    assert {tuple(r) for r in resolved.select(*cols).collect()} == {
        tuple(r) for r in want_tf.select(*cols).collect()
    }
    # a pending-mode cut serves phrases FRESH: positions ride their own
    # pending delta and load_serving resolves base ∪ delta at the pinned
    # versions — row-equal to tables built from scratch over the live
    # chunk corpus (r10; the earlier drop-the-pin compromise is gone)
    from connapse_spark.operators.ingest import load_serving as _ls

    cut = _ls(spark, base)
    assert cut["positions_postings"] is not None
    live_chunks = ingest_serving(live)
    toks_live = ki.build_token_table(
        live_chunks["chunks"], id_col="chunk_id", text_col="content"
    )
    fe = ki.build_positions_postings(toks_live, "tokens_exact")
    fs = ki.build_positions_postings(toks_live, "tokens_stemmed")
    pq = [(1, '"table scan"'), (2, '"merge join"')]
    got_ph = ki.keyword_search_many_phrase_indexed(
        *cut["positions_postings"], pq, k=5
    ).collect()
    want_ph = ki.keyword_search_many_phrase_indexed(fe, fs, pq, k=5).collect()
    assert [tuple(r) for r in got_ph] == [tuple(r) for r in want_ph]
    live_chunks["chunks"].unpersist(), live_chunks["vectors"].unpersist()
    for h in (first, out, want):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()


@pytest.mark.slow
def test_load_serving_restart_round_trip(spark, sf_dir, tmp_path):
    """The restart story: everything ingest_serving committed reopens via
    load_serving and answers the FULLY index-served single-query hybrid
    identically to the brute pipeline — including after an incremental
    wave updated the on-disk token table and posting arrays."""
    import os as _os

    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
    )
    from connapse_spark.operators.search import SearchOptions, hybrid_search
    from connapse_spark.sources import snapshots as snaps

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base, nprobe=99)

    def served_vs_brute():
        got_chunks = snaps.read_snapshot(spark, _os.path.join(base, "chunks"))
        corpus = got_chunks.select(
            F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
        )
        vecs = snaps.read_snapshot(
            spark, _os.path.join(base, "chunk_vectors")
        ).select(F.col("chunk_id").alias("id"), "embedding")
        bundles = load_serving(spark, base, nprobe=99)
        opts = SearchOptions(top_k=10)
        served = hybrid_search(
            corpus,
            "table scan joins",
            opts,
            keyword_index=bundles["keyword_index"],
            vector_index=bundles["vector_index"],
        ).collect()
        brute = hybrid_search(corpus, "table scan joins", opts, vectors=vecs).collect()
        return served, brute

    served, brute = served_vs_brute()
    assert served and [tuple(r) for r in served] == [tuple(r) for r in brute]

    # incremental wave: the on-disk token/posting bundle must stay fresh
    batch = docs.filter(F.col("doc_id") == 5).select(
        "doc_id", F.lit("table scan joins everywhere now").alias("text")
    )
    out = ingest_serving_incremental(
        batch, base, deleted_doc_ids=[11], nprobe=99, rebuild_threshold=2.0
    )
    served2, brute2 = served_vs_brute()
    assert served2 and [tuple(r) for r in served2] == [tuple(r) for r in brute2]
    # the refreshed on-disk keyword bundle sees the new content and not the
    # deleted doc: keyword-only mode, where the literal term hits must rank
    bundles2 = load_serving(spark, base, nprobe=99)
    got_chunks = snaps.read_snapshot(spark, _os.path.join(base, "chunks"))
    corpus2 = got_chunks.select(
        F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
    )
    kw = hybrid_search(
        corpus2,
        "table scan joins everywhere",
        SearchOptions(top_k=20, mode="Keyword"),
        keyword_index=bundles2["keyword_index"],
    ).collect()
    assert any(str(r["id"]).startswith("5:") for r in kw)
    assert not any(str(r["id"]).startswith("11:") for r in kw)
    # BM25 serves straight off the loaded cut (tf_stemmed + doclen, r10),
    # bit-equal to the scan tier over the live chunk corpus
    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.search import keyword_search_bm25

    got_bm25 = ki.keyword_search_bm25_indexed(
        bundles2["tf_postings"][1], bundles2["doclen"], "table scan joins", k=10
    ).collect()
    want_bm25 = keyword_search_bm25(
        corpus2, "table scan joins", k=10, id_col="doc_id"
    ).collect()
    assert got_bm25 and [tuple(r) for r in got_bm25] == [tuple(r) for r in want_bm25]
    for h in (first, out):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()


@pytest.mark.slow
def test_mixed_mode_overwrite_folds_pending_delta(spark, sf_dir, tmp_path):
    """A pending wave followed by an OVERWRITE wave must not lose the
    pending wave's changes: the overwrite branch folds the cut's
    outstanding tf/positions deltas (resolve_pending at
    the pinned versions) before upserting (r10 — previously it read the
    pinned base alone and the pending wave's postings silently vanished
    from the fresh commit). Final serving state must equal a from-scratch
    ingest over the live corpus across tf, doclen-served BM25, and
    positions."""
    import os as _os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
    )

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base)
    # wave 1 (pending): update doc 3, delete doc 7
    b1 = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("pending wave table scan words").alias("text")
    )
    w1 = ingest_serving_incremental(
        b1, base, deleted_doc_ids=[7], tf_mode="pending", rebuild_threshold=2.0
    )
    # wave 2 (overwrite): update doc 9, delete doc 11
    b2 = docs.filter(F.col("doc_id") == 9).select(
        "doc_id", F.lit("overwrite wave merge join words").alias("text")
    )
    w2 = ingest_serving_incremental(
        b2, base, deleted_doc_ids=[11], rebuild_threshold=2.0
    )

    live = docs.filter(~F.col("doc_id").isin(3, 7, 9, 11)).unionByName(
        b1
    ).unionByName(b2)
    want = ingest_serving(live)
    cut = load_serving(spark, base)
    assert "tf_pending" not in cut["tables"]  # the fresh cut dropped the pin

    def rows(df):
        return {tuple(r) for r in df.collect()}

    # tf: wave-1's postings survived the overwrite fold
    assert rows(cut["tf_postings"][0]) == rows(want["tf_postings"][0])
    assert rows(cut["tf_postings"][1]) == rows(want["tf_postings"][1])
    # BM25 over the folded doclen == scan tier over the live chunks
    got_bm25 = ki.keyword_search_bm25_indexed(
        cut["tf_postings"][1], cut["doclen"], "table scan", k=10
    ).collect()
    want_bm25 = ki.keyword_search_bm25_indexed(
        want["tf_postings"][1],
        ki.build_doclen_table(
            ki.build_token_table(want["chunks"], id_col="chunk_id", text_col="content")
        ),
        "table scan",
        k=10,
    ).collect()
    assert got_bm25 and [tuple(r) for r in got_bm25] == [tuple(r) for r in want_bm25]
    # positions: folded base serves phrases == fresh tables
    pq = [(1, '"table scan"'), (2, '"merge join"')]
    got_ph = ki.keyword_search_many_phrase_indexed(
        *cut["positions_postings"], pq, k=5
    ).collect()
    want_ph = ki.keyword_search_many_phrase_indexed(
        *want["positions_postings"], pq, k=5
    ).collect()
    assert [tuple(r) for r in got_ph] == [tuple(r) for r in want_ph]
    for h in (first, w1, w2, want):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()


@pytest.mark.slow
def test_overwrite_truncates_folded_pending_delta(spark, sf_dir, tmp_path):
    """An overwrite wave that folds an outstanding pending delta must
    TRUNCATE the delta dirs after committing the folded base (r11, the
    pending-wave-after-overwrite resurrection): without the truncation, a
    LATER pending wave appends onto the stale delta, and resolution
    anti-joins the folded base by the stale tombstones and revives each
    folded id's latest-batch delta rows — resurrecting stale content for
    ids the overwrite wave updated and fully resurrecting docs it
    DELETED. Sequence: pending-update doc 3 → overwrite wave deletes doc
    3 and updates doc 9 → unrelated pending wave updates doc 5. Served
    state (tf via the pinned resolve, BM25, phrases) must equal a
    from-scratch ingest of the surviving corpus — doc 3 gone, doc 9's
    overwrite content (not its original) served."""
    import os as _os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
    )

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base)
    b1 = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("resurrection probe table scan words").alias("text")
    )
    w1 = ingest_serving_incremental(
        b1, base, tf_mode="pending", rebuild_threshold=2.0
    )
    b2 = docs.filter(F.col("doc_id") == 9).select(
        "doc_id", F.lit("overwrite fold merge join words").alias("text")
    )
    w2 = ingest_serving_incremental(
        b2, base, deleted_doc_ids=[3], rebuild_threshold=2.0
    )
    b3 = docs.filter(F.col("doc_id") == 5).select(
        "doc_id", F.lit("unrelated pending wave words").alias("text")
    )
    w3 = ingest_serving_incremental(
        b3, base, tf_mode="pending", rebuild_threshold=2.0
    )

    live = (
        docs.filter(~F.col("doc_id").isin(3, 5, 9))
        .unionByName(b2)
        .unionByName(b3)
    )
    want = ingest_serving(live)
    cut = load_serving(spark, base)

    def rows(df):
        return {tuple(r) for r in df.collect()}

    # the deleted doc's wave-1 delta rows must NOT have revived
    assert not [
        r for r in cut["tf_postings"][0].collect() if str(r["id"]).startswith("3:")
    ]
    assert rows(cut["tf_postings"][0]) == rows(want["tf_postings"][0])
    assert rows(cut["tf_postings"][1]) == rows(want["tf_postings"][1])
    got_bm25 = ki.keyword_search_bm25_indexed(
        cut["tf_postings"][1], cut["doclen"], "table scan", k=10
    ).collect()
    want_bm25 = ki.keyword_search_bm25_indexed(
        want["tf_postings"][1],
        ki.build_doclen_table(
            ki.build_token_table(want["chunks"], id_col="chunk_id", text_col="content")
        ),
        "table scan",
        k=10,
    ).collect()
    assert got_bm25 and [tuple(r) for r in got_bm25] == [tuple(r) for r in want_bm25]
    pq = [(1, '"table scan"'), (2, '"merge join"')]
    got_ph = ki.keyword_search_many_phrase_indexed(
        *cut["positions_postings"], pq, k=5
    ).collect()
    want_ph = ki.keyword_search_many_phrase_indexed(
        *want["positions_postings"], pq, k=5
    ).collect()
    assert [tuple(r) for r in got_ph] == [tuple(r) for r in want_ph]
    for h in (first, w1, w2, w3, want):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()


def test_load_serving_doclen_guard_on_legacy_layout(spark, sf_dir, tmp_path):
    """A pinned cut whose tf snapshot predates the doclen partition (or
    carries a PARTIAL one — the pending-resolve-over-legacy-base shape)
    must not silently drop docs from BM25: load_serving's completeness
    guard detects the row-count mismatch against the tokens table and
    serves lengths derived from the pinned tokens instead (r10 review
    finding #1)."""
    import os as _os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import (
        ingest_serving,
        load_serving,
        publish_serving,
    )
    from connapse_spark.operators.search import keyword_search_bm25
    from connapse_spark.sources import snapshots as snaps

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    out = ingest_serving(docs, base_dir=base)
    cut = load_serving(spark, base)

    # forge a legacy cut: re-commit the tf table WITHOUT its doclen
    # partition and publish a manifest pinning it (everything else as-is)
    tf_dir = _os.path.join(base, "tf_postings")
    legacy_tf = snaps.read_snapshot(spark, tf_dir).filter(F.col("kind") != "doclen")
    legacy_v = snaps.commit_snapshot(legacy_tf, tf_dir, partition_by=["kind"])
    tables = dict(cut["tables"])
    tables["tf_postings"] = legacy_v
    publish_serving(base, tables, model_id="hash-64", dims=64, nprobe=4)

    legacy_cut = load_serving(spark, base)
    assert legacy_cut["tables"]["tf_postings"] == legacy_v
    got = ki.keyword_search_bm25_indexed(
        legacy_cut["tf_postings"][1], legacy_cut["doclen"], "table scan", k=10
    ).collect()
    chunks = snaps.read_snapshot(spark, _os.path.join(base, "chunks"))
    corpus = chunks.select(
        F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
    )
    want = keyword_search_bm25(corpus, "table scan", k=10).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want]
    out["chunks"].unpersist(), out["vectors"].unpersist()
    docs.unpersist()


@pytest.mark.slow
def test_overwrite_fold_bootstraps_partial_doclen(spark, sf_dir, tmp_path):
    """An overwrite wave folding a pending delta over a LEGACY pre-doclen
    base must not commit a partial doclen partition (r11): the resolved
    view's doclen rows cover only the pending batches' docs — partial but
    NOT empty, so the old emptiness-only bootstrap check passed them to
    upsert_doclen and the committed base permanently dropped every
    uncovered doc from indexed BM25 (load_serving's count-guard masked it
    by rebuilding per load; direct read_doclen consumers were silently
    wrong). The write path now bootstraps whenever upserted coverage
    disagrees with the post-COW tokens count. Sequence: forge a legacy
    (doclen-less) pinned cut → pending wave → overwrite wave → the
    COMMITTED doclen partition covers every live chunk."""
    import os as _os

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
        publish_serving,
    )
    from connapse_spark.sources import snapshots as snaps

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base)
    cut = load_serving(spark, base)
    tf_dir = _os.path.join(base, "tf_postings")
    legacy_tf = snaps.read_snapshot(spark, tf_dir).filter(F.col("kind") != "doclen")
    legacy_v = snaps.commit_snapshot(legacy_tf, tf_dir, partition_by=["kind"])
    tables = dict(cut["tables"])
    tables["tf_postings"] = legacy_v
    publish_serving(base, tables, model_id="hash-64", dims=64, nprobe=4)

    b1 = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("legacy base pending words").alias("text")
    )
    w1 = ingest_serving_incremental(
        b1, base, tf_mode="pending", rebuild_threshold=2.0
    )
    b2 = docs.filter(F.col("doc_id") == 9).select(
        "doc_id", F.lit("legacy base overwrite words").alias("text")
    )
    w2 = ingest_serving_incremental(b2, base, rebuild_threshold=2.0)

    cut2 = load_serving(spark, base)
    # the COMMITTED partition itself (not load_serving's guard): one
    # doclen row per live chunk in the pinned tokens table
    committed_dl = ki.read_doclen(
        spark, tf_dir, version=cut2["tables"]["tf_postings"]
    )
    tok_cnt = snaps.read_snapshot(
        spark, _os.path.join(base, "tokens"), version=cut2["tables"]["tokens"]
    ).count()
    assert committed_dl.count() == tok_cnt
    # and indexed BM25 over the committed cut equals a from-scratch build
    live = docs.filter(~F.col("doc_id").isin(3, 9)).unionByName(b1).unionByName(b2)
    want = ingest_serving(live)
    got = ki.keyword_search_bm25_indexed(
        cut2["tf_postings"][1], committed_dl, "table scan", k=10
    ).collect()
    want_rows = ki.keyword_search_bm25_indexed(
        want["tf_postings"][1],
        ki.build_doclen_table(
            ki.build_token_table(want["chunks"], id_col="chunk_id", text_col="content")
        ),
        "table scan",
        k=10,
    ).collect()
    assert got and [tuple(r) for r in got] == [tuple(r) for r in want_rows]
    for h in (first, w1, w2, want):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()


@pytest.mark.slow
def test_serving_manifest_hides_torn_waves(spark, sf_dir, tmp_path, monkeypatch):
    """Cross-table atomicity: a wave that crashes AFTER committing new
    chunk versions but BEFORE publishing the root serving manifest must be
    invisible to load_serving — readers keep the previous complete cut
    (even though the chunks table itself has advanced) — and replaying the
    wave converges and publishes."""
    import os as _os

    from connapse_spark.operators import ingest as ingest_mod
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
    )
    from connapse_spark.sources import snapshots as snaps

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 12)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    first = ingest_serving(docs, base_dir=base)
    cut0 = load_serving(spark, base)
    v0 = cut0["serving_version"]
    chunks_v0 = cut0["tables"]["chunks"]

    batch = docs.filter(F.col("doc_id") == 2).select(
        "doc_id", F.lit("crashed wave content").alias("text")
    )

    # crash injection: the wave dies after the chunk/vector/token/posting
    # commits, before the tf fold — well before publish_serving
    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(
        keyword_index, "fold_postings", boom, raising=True
    )  # the incremental path resolves ki.fold_postings at call time
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        ingest_serving_incremental(
            batch, base, deleted_doc_ids=[4], rebuild_threshold=2.0
        )
    monkeypatch.undo()

    # the chunks TABLE advanced past the pinned cut…
    assert snaps.latest_version(_os.path.join(base, "chunks")) > chunks_v0
    # …but the serving cut did not: readers see the pre-crash state exactly
    cut1 = load_serving(spark, base)
    assert cut1["serving_version"] == v0 and cut1["tables"]["chunks"] == chunks_v0
    toks = cut1["keyword_index"].tokens
    assert not [r for r in toks.collect() if "crashed" in str(r)]

    # replaying the wave converges and publishes a complete cut — CRUCIALLY
    # including the deletion: the crashed attempt already removed doc 4's
    # chunks from the (torn) latest chunks version, so a replay that read
    # "latest" instead of the pinned cut would compute an empty deletion
    # set and leak doc 4 into the keyword/vector structures forever
    out = ingest_serving_incremental(
        batch, base, deleted_doc_ids=[4], rebuild_threshold=2.0
    )
    cut2 = load_serving(spark, base)
    assert cut2["serving_version"] > v0
    live_contents = {
        r["content"]
        for r in snaps.read_snapshot(
            spark, _os.path.join(base, "chunks"), version=cut2["tables"]["chunks"]
        ).collect()
    }
    assert any("crashed wave content" in c for c in live_contents)
    tok_ids = {r["id"] for r in cut2["keyword_index"].tokens.collect()}
    assert not any(str(i).startswith("4:") for i in tok_ids)
    vec_ids = {r["id"] for r in cut2["vector_index"].index.select("id").collect()}
    assert not any(str(i).startswith("4:") for i in vec_ids)
    tfe2, _ = cut2["tf_postings"]
    assert not any(
        str(r["id"]).startswith("4:") for r in tfe2.select("id").collect()
    )
    for h in (first, out):
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()


@pytest.mark.slow
def test_vacuum_serving_respects_pins(spark, sf_dir, tmp_path):
    """Pin-aware layout retention: after three waves, keeping one cut must
    (a) delete the older serving manifests, (b) keep every table version
    the retained cut pins (the cut still loads and serves), and (c) make
    versions older than any retained pin unreadable."""
    import os as _os

    import pytest as _pytest

    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
        vacuum_serving,
    )
    from connapse_spark.sources import snapshots as snaps

    docs = (
        spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 12)
        .select("doc_id", "text")
        .persist()
    )
    base = str(tmp_path / "serving")
    handles = [ingest_serving(docs, base_dir=base)]
    cut0 = load_serving(spark, base)
    for i in (2, 3):
        batch = docs.filter(F.col("doc_id") == i).select(
            "doc_id", F.lit(f"wave {i} text").alias("text")
        )
        handles.append(
            ingest_serving_incremental(batch, base, rebuild_threshold=2.0)
        )
    stats = vacuum_serving(base, keep_last_cuts=1, min_age_seconds=0.0)
    assert stats["serving_manifests_deleted"] == [0, 1]
    # the retained cut still loads and serves end to end
    cut = load_serving(spark, base)
    assert cut["serving_version"] == 2
    assert cut["keyword_index"].tokens.count() > 0
    assert cut["vector_index"].index.count() > 0
    # the dropped cut's manifest is gone, and its pinned chunks version
    # (older than the retained pin) is no longer readable
    with _pytest.raises(Exception):
        load_serving(spark, base, serving_version=cut0["serving_version"])
    with _pytest.raises(Exception):
        snaps.read_snapshot(
            spark, _os.path.join(base, "chunks"), version=cut0["tables"]["chunks"]
        ).collect()
    for h in handles:
        h["chunks"].unpersist(), h["vectors"].unpersist()
    docs.unpersist()

def test_upsert_positions_postings_rebuild_equivalent(spark, sf_dir):
    """Incremental positions-postings must equal a from-scratch rebuild
    over the post-change corpus POSITION FOR POSITION (r10 — VERDICT r9
    ask #2: the r9 phrase/proximity serving tables had no upsert twin, so
    a crawl drop forced a full corpus re-posexplode); empty batch + no
    deletes is the identity."""
    from connapse_spark.operators.keyword_index import upsert_positions_postings

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 80)
    base = keyword_index.build_positions_postings(
        keyword_index.build_token_table(docs)
    )
    updated = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.lit("fresh words only "), F.col("doc_id")).alias("text")
    )
    deleted = [3, 11]
    got = upsert_positions_postings(
        base, keyword_index.build_token_table(updated), deleted_ids=deleted
    )
    post = docs.filter(~F.col("doc_id").isin(deleted)).filter(
        F.col("doc_id") % 7 != 0
    ).select("doc_id", "text").unionByName(updated)
    want = keyword_index.build_positions_postings(
        keyword_index.build_token_table(post)
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["term"], r["id"], tuple(r["positions"])) for r in df.collect()
    )
    assert canon(got) == canon(want)
    # identity: empty batch, no deletes
    empty = keyword_index.build_token_table(docs.filter(F.lit(False)))
    assert upsert_positions_postings(base, empty).count() == base.count()


def test_upsert_positions_postings_plan_and_df_deletions(spark):
    """The removal path must be the same driverless anti-join as the tf
    twin: no per-id literals in the plan, LeftAnti present, plan size
    flat across a 100x batch growth; and deleted_ids as a DataFrame
    change feed must match the list path row-for-row."""
    from connapse_spark.operators.keyword_index import (
        build_positions_postings,
        build_token_table,
        upsert_positions_postings,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7} beta") for i in range(40)],
        "doc_id long, text string",
    )
    base = build_positions_postings(build_token_table(docs))

    def plan_for(n):
        batch = spark.createDataFrame(
            [(900_000_042 + j, "beta delta") for j in range(n)],
            "doc_id long, text string",
        )
        out = upsert_positions_postings(
            base,
            build_token_table(batch),
            deleted_ids=list(range(800_000_000, 800_000_000 + n)),
        )
        return out._jdf.queryExecution().optimizedPlan().toString()

    small, big = plan_for(2), plan_for(200)
    for plan in (small, big):
        assert "900000042" not in plan
        assert "800000123" not in plan
    assert "LeftAnti" in big
    assert len(big) < 1.2 * len(small) + 200

    batch = spark.createDataFrame([(1, "beta delta")], "doc_id long, text string")
    feed = spark.createDataFrame([(3,)], "id long")
    via_list = upsert_positions_postings(
        base, build_token_table(batch), deleted_ids=[3]
    )
    via_df = upsert_positions_postings(
        base, build_token_table(batch), deleted_ids=feed
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["term"], r["id"], tuple(r["positions"])) for r in df.collect()
    )
    assert canon(via_list) == canon(via_df)


def test_fold_postings_latest_tomb_wins(spark):
    """The tombstone-clock fold every maintenance path shares, over three
    batches at once: base rows of any tombstoned id drop; a fresh row
    survives only if no later batch tombstoned its id (an update then a
    delete removes the doc, a delete then an update restores it, two
    updates keep the later rows); duplicate tombs change nothing; with no
    base the live fresh rows alone come back. String ids fold like bigint
    ones."""
    from connapse_spark.operators.keyword_index import fold_postings

    base = spark.createDataFrame(
        [("a", "d1", 1), ("b", "d1", 2), ("a", "d2", 1), ("c", "d3", 4), ("c", "d4", 1)],
        "term string, id string, tf long",
    )
    fresh = spark.createDataFrame(
        [
            ("x", "d1", 1, 0),  # d1 updated at 0 ...
            ("y", "d1", 5, 2),  # ... and again at 2: only these rows live
            ("z", "d2", 3, 0),  # d2 updated at 0, deleted at 1
            ("w", "d5", 2, 1),  # d5 inserted at 1 (d3 deleted at 0)
            ("v", "d4", 7, 2),  # d4 deleted at 1, back at 2
        ],
        "term string, id string, tf long, batch long",
    )
    tombs = spark.createDataFrame(
        [("d1", 0), ("d1", 2), ("d2", 0), ("d2", 1), ("d3", 0), ("d3", 0),
         ("d5", 1), ("d4", 1), ("d4", 2)],
        "id string, batch long",
    )
    got = sorted(tuple(r) for r in fold_postings(base, fresh, tombs).collect())
    assert got == [("v", "d4", 7), ("w", "d5", 2), ("y", "d1", 5)]
    alone = fold_postings(None, fresh, tombs)
    assert alone.columns == ["term", "id", "tf"]
    assert sorted(tuple(r) for r in alone.collect()) == got
    # no tombs: the base passes through and every fresh row is live
    none = tombs.filter(F.lit(False))
    assert fold_postings(base, fresh.filter(F.lit(False)), none).count() == base.count()


def test_upsert_doclen_rebuild_equivalent_and_driverless(spark, sf_dir):
    """Incremental doclen must equal a from-scratch rebuild over the
    post-change corpus (r10 — the last BM25 serving structure without an
    upsert twin); delete-only batches and the empty identity hold; and
    the removal path is the same literal-free anti-join as the tf twin."""
    from connapse_spark.operators.keyword_index import (
        build_doclen_table,
        build_token_table,
        upsert_doclen,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 80)
    base = build_doclen_table(build_token_table(docs))
    updated = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" longer now")).alias("text")
    )
    deleted = [3, 11]
    got = upsert_doclen(base, build_token_table(updated), deleted_ids=deleted)
    post = docs.filter(~F.col("doc_id").isin(deleted)).filter(
        F.col("doc_id") % 7 != 0
    ).select("doc_id", "text").unionByName(updated)
    want = build_doclen_table(build_token_table(post))
    canon = lambda df: sorted((r["id"], r["dl"]) for r in df.collect())  # noqa: E731
    assert canon(got) == canon(want)
    # delete-only: empty batch removes exactly the deleted ids
    empty = build_token_table(docs.filter(F.lit(False)))
    only_del = upsert_doclen(base, empty, deleted_ids=[5])
    assert canon(only_del) == canon(
        build_doclen_table(build_token_table(docs.filter(F.col("doc_id") != 5)))
    )
    # identity + literal-free plan
    assert upsert_doclen(base, empty).count() == base.count()
    plan = (
        upsert_doclen(base, empty, deleted_ids=list(range(700_000_000, 700_000_200)))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "700000123" not in plan and "LeftAnti" in plan


def test_keyword_bm25_indexed_bit_equal_to_scan(spark, sf_dir):
    """The index-served BM25 tier must return the SAME rounded doubles as
    the scan tier (r10 — VERDICT r9 ask #6): same integer corpus stats
    (N/Σdl from doclen, df from postings row counts), same fixed-order
    score expression over pivoted per-term tf columns. Covers multi-term,
    single-term, and no-hit queries."""
    from connapse_spark.operators.keyword_index import (
        build_doclen_table,
        build_tf_postings,
        keyword_search_bm25_indexed,
    )
    from connapse_spark.operators.search import keyword_search_bm25

    docs = _docs(spark, sf_dir)
    tokens = keyword_index.build_token_table(docs)
    tfs = build_tf_postings(tokens, "tokens_stemmed")
    dl = build_doclen_table(tokens)
    # indexed tier's empty-query guard (the scan tier's caller, search
    # routing, never passes empty queries down)
    assert keyword_search_bm25_indexed(tfs, dl, "", k=20).count() == 0
    for q in ("distributed query engine", "merge", "zzzznohit"):
        want = [
            (r["doc_id"], r["score"])
            for r in keyword_search_bm25(docs, q, k=20).collect()
        ]
        got = [
            (r["id"], r["score"])
            for r in keyword_search_bm25_indexed(tfs, dl, q, k=20).collect()
        ]
        assert got == want, f"query {q!r}: {got[:3]} != {want[:3]}"

def test_keyword_snippets_indexed_row_identical_to_scan(spark, sf_dir):
    """Index-served snippets must equal the scan tier row-for-row (r10):
    same ranking (keyword_search_indexed is oracle-pinned to
    keyword_search), same match_pos and excerpt (shared excerpt tail)."""
    from connapse_spark.operators.keyword_index import (
        build_keyword_index,
        keyword_search_snippets_indexed,
    )
    from connapse_spark.operators.search import keyword_search_snippets

    docs = _docs(spark, sf_dir)
    idx = build_keyword_index(docs).persist()
    try:
        want = [tuple(r) for r in keyword_search_snippets(
            docs, "distributed query engine", k=10).collect()]
        got = [tuple(r) for r in keyword_search_snippets_indexed(
            idx, docs, "distributed query engine", k=10).collect()]
    finally:
        idx.unpersist()
    assert got == want


@pytest.mark.slow
def test_keyword_maintenance_interleaving_fuzz(spark, tmp_path):
    """Property fuzz over the maintenance-mode matrix (r11 — VERDICT r10
    ask #5): seeded-random wave sequences (overwrite/pending ×
    upsert/delete × compact, 5–8 waves each) through the PRODUCTION
    branch logic — keyword_serving_wave (the exact code
    ingest_serving_incremental runs: fold-first, truncate-after-fold,
    doclen bootstrap guard) and compact_serving (fold + repin + publish)
    — pinning final served state (tf + doclen, BM25 top-k, phrase hits)
    equal to a from-scratch build over the surviving corpus. Sequences
    are independent layouts, so they run on a thread pool (driver-side
    concurrency; Spark schedules the tiny jobs across all cores).
    CONNAPSE_FUZZ_SEQS overrides the sequence count (in-suite default 16
    for runtime; the r11 evidence run passed 100 — see BENCH_NOTES.md)."""
    import os as _os
    import random
    from concurrent.futures import ThreadPoolExecutor

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.ingest import (
        compact_serving,
        keyword_serving_wave,
        publish_serving,
    )
    from connapse_spark.sources import snapshots as snaps

    VOCAB = [
        "table", "scan", "merge", "join", "index", "bloom", "vector",
        "shuffle", "broadcast", "filter", "rows", "column",
    ]

    def text_for(rng):
        return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(4, 10)))

    def tf_all_of(toks):
        return (
            ki.build_tf_postings(toks, "tokens_exact").withColumn("kind", F.lit("exact"))
            .unionByName(
                ki.build_tf_postings(toks, "tokens_stemmed").withColumn(
                    "kind", F.lit("stemmed")
                )
            )
            .select("kind", "term", "id", "tf")
            .unionByName(ki.doclen_partition_rows(ki.build_doclen_table(toks)))
        )

    def bootstrap(base, docs_df):
        toks = ki.build_token_table(docs_df, id_col="doc_id", text_col="text")
        tables = {
            "tokens": snaps.commit_snapshot(toks, _os.path.join(base, "tokens")),
            "postings": snaps.commit_snapshot(
                ki.build_postings(toks, "tokens_exact")
                .withColumn("kind", F.lit("exact"))
                .unionByName(
                    ki.build_postings(toks, "tokens_stemmed").withColumn(
                        "kind", F.lit("stemmed")
                    )
                )
                .select("kind", "term", "ids", "df"),
                _os.path.join(base, "postings"),
                partition_by=["kind"],
            ),
            "tf_postings": snaps.commit_snapshot(
                tf_all_of(toks), _os.path.join(base, "tf_postings"),
                partition_by=["kind"],
            ),
            "positions_postings": snaps.commit_snapshot(
                ki.build_positions_all(toks),
                _os.path.join(base, "positions_postings"),
                partition_by=["kind"],
            ),
        }
        publish_serving(base, tables, stemmer="suffix")

    def run_sequence(seed):
        rng = random.Random(9000 + seed)
        base = str(tmp_path / f"fuzz{seed}")
        state = {i: text_for(rng) for i in range(6)}
        docs_df = spark.createDataFrame(
            list(state.items()), "doc_id long, text string"
        )
        bootstrap(base, docs_df)
        for _ in range(rng.randint(5, 8)):
            op = rng.choice(["pending", "overwrite", "pending", "overwrite", "compact"])
            if op == "compact":
                compact_serving(spark, base)
                continue
            pinned = snaps.load_manifest(_os.path.join(base, "_serving"))["tables"]
            ups = {i: text_for(rng) for i in rng.sample(range(9), rng.randint(0, 2))}
            live = sorted(set(state) - set(ups))
            dels = rng.sample(live, rng.randint(0, 1)) if live else []
            affected = sorted((set(ups) | set(dels)) & set(state))
            batch = spark.createDataFrame(
                list(ups.items()), "doc_id long, text string"
            )
            deleted_ids = spark.createDataFrame(
                [(i,) for i in affected], "id long"
            )
            out = keyword_serving_wave(
                spark, base, batch, deleted_ids, pinned,
                tf_mode=op, id_col="doc_id", text_col="text",
            )
            publish_serving(base, out, stemmer="suffix")
            state.update(ups)
            for d in dels:
                state.pop(d, None)

        # final served state vs a from-scratch build of the survivors
        pinned = snaps.load_manifest(_os.path.join(base, "_serving"))["tables"]
        want_docs = spark.createDataFrame(
            list(state.items()), "doc_id long, text string"
        )
        toks_w = ki.build_token_table(want_docs, id_col="doc_id", text_col="text")
        if "tf_pending" in pinned:
            cut_tf = ki.resolve_pending(
                spark,
                _os.path.join(base, "tf_postings"),
                _os.path.join(base, "tf_pending"),
                base_version=pinned["tf_postings"],
                delta_version=pinned["tf_pending"],
            )
        else:
            cut_tf = snaps.read_snapshot(
                spark, _os.path.join(base, "tf_postings"),
                version=pinned["tf_postings"],
            )
        got_tf = {tuple(r) for r in cut_tf.select("kind", "term", "id", "tf").collect()}
        want_tf = {tuple(r) for r in tf_all_of(toks_w).collect()}
        assert got_tf == want_tf, f"seed {seed}: tf/doclen diverged"
        if "positions_pending" in pinned:
            cut_pos = ki.resolve_pending(
                spark,
                _os.path.join(base, "positions_postings"),
                _os.path.join(base, "positions_pending"),
                base_version=pinned.get("positions_postings"),
                delta_version=pinned["positions_pending"],
            )
        else:
            cut_pos = snaps.read_snapshot(
                spark, _os.path.join(base, "positions_postings"),
                version=pinned["positions_postings"],
            )
        got_pos = {
            (r["kind"], r["term"], r["id"], tuple(r["positions"]))
            for r in cut_pos.collect()
        }
        want_pos = {
            (r["kind"], r["term"], r["id"], tuple(r["positions"]))
            for r in ki.build_positions_all(toks_w).collect()
        }
        assert got_pos == want_pos, f"seed {seed}: positions diverged"
        # BM25 through the cut == rebuild (doclen + tf_stemmed split)
        cut_tfs = cut_tf.filter(F.col("kind") == "stemmed").select("term", "id", "tf")
        cut_dl = cut_tf.filter(F.col("kind") == "doclen").select(
            "id", F.col("tf").alias("dl")
        )
        got_bm = ki.keyword_search_bm25_indexed(
            cut_tfs, cut_dl, "table scan", k=6
        ).collect()
        want_bm = ki.keyword_search_bm25_indexed(
            ki.build_tf_postings(toks_w, "tokens_stemmed"),
            ki.build_doclen_table(toks_w),
            "table scan",
            k=6,
        ).collect()
        assert [tuple(r) for r in got_bm] == [tuple(r) for r in want_bm], (
            f"seed {seed}: BM25 diverged"
        )
        # phrases through the cut == rebuild
        pq = [(1, '"merge join"')]
        got_ph = ki.keyword_search_many_phrase_indexed(
            cut_pos.filter(F.col("kind") == "exact").select("term", "id", "positions"),
            cut_pos.filter(F.col("kind") == "stemmed").select("term", "id", "positions"),
            pq, k=6,
        ).collect()
        want_all = ki.build_positions_all(toks_w)
        want_ph = ki.keyword_search_many_phrase_indexed(
            want_all.filter(F.col("kind") == "exact").select("term", "id", "positions"),
            want_all.filter(F.col("kind") == "stemmed").select("term", "id", "positions"),
            pq, k=6,
        ).collect()
        assert [tuple(r) for r in got_ph] == [tuple(r) for r in want_ph], (
            f"seed {seed}: phrases diverged"
        )
        return seed

    n = int(_os.environ.get("CONNAPSE_FUZZ_SEQS", "16"))
    with ThreadPoolExecutor(max_workers=16) as pool:
        done = list(pool.map(run_sequence, range(n)))
    assert len(done) == n


@pytest.mark.parametrize("ids", ["bigint", "chunk"])
def test_compact_bootstraps_positions_on_legacy_cut(spark, sf_dir, tmp_path, ids):
    """A serving cut with no positions_postings pin and no table (a layout
    that predates positions) takes one PENDING keyword wave, then
    compact_serving: the published positions must equal
    build_positions_all over the cut's live tokens — every doc, not just
    the wave's. Bigint doc ids (a bootstrapped keyword layout) and string
    chunk ids (an ingest_serving layout) both converge."""
    import shutil

    from connapse_spark.operators.ingest import (
        compact_serving,
        ingest_serving,
        keyword_serving_wave,
        publish_serving,
    )
    from connapse_spark.sources import snapshots as snaps

    base = str(tmp_path / "serving")
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 6).select("doc_id", "text")
    if ids == "bigint":
        id_col, text_col = "doc_id", "text"
        corpus = docs
        toks = keyword_index.build_token_table(corpus)
        tables = {
            "tokens": snaps.commit_snapshot(toks, os.path.join(base, "tokens")),
            "postings": snaps.commit_snapshot(
                keyword_index.build_postings(toks, "tokens_exact")
                .withColumn("kind", F.lit("exact"))
                .unionByName(
                    keyword_index.build_postings(toks, "tokens_stemmed").withColumn(
                        "kind", F.lit("stemmed")
                    )
                )
                .select("kind", "term", "ids", "df"),
                os.path.join(base, "postings"),
                partition_by=["kind"],
            ),
            "tf_postings": snaps.commit_snapshot(
                keyword_index.build_tf_all(toks),
                os.path.join(base, "tf_postings"),
                partition_by=["kind"],
            ),
        }
        publish_serving(base, tables, stemmer="suffix")
    else:
        id_col, text_col = "chunk_id", "content"
        out = ingest_serving(docs, base_dir=base)
        corpus = out["chunks"].select("chunk_id", "content")
        out["vectors"].unpersist()
        m = snaps.load_manifest(os.path.join(base, "_serving"))
        tables = {k: v for k, v in m["tables"].items() if k != "positions_postings"}
        shutil.rmtree(os.path.join(base, "positions_postings"))
        publish_serving(
            base, tables, **{k: v for k, v in m.items() if k not in ("tables", "version")}
        )

    first = corpus.orderBy(id_col).first()
    batch = spark.createDataFrame(
        [(first[id_col], "legacy cut pending words")], corpus.schema
    )
    pinned = snaps.load_manifest(os.path.join(base, "_serving"))["tables"]
    wave = keyword_serving_wave(
        spark, base, batch, batch.select(F.col(id_col).alias("id")), pinned,
        tf_mode="pending", id_col=id_col, text_col=text_col,
    )
    publish_serving(base, {**pinned, **wave}, stemmer="suffix")
    compact_serving(spark, base)

    cut = snaps.load_manifest(os.path.join(base, "_serving"))["tables"]
    assert "positions_pending" not in cut and "tf_pending" not in cut
    live = snaps.read_snapshot(spark, os.path.join(base, "tokens"), version=cut["tokens"])
    got = snaps.read_snapshot(
        spark, os.path.join(base, "positions_postings"), version=cut["positions_postings"]
    )

    def canon(df):
        return sorted(
            (r["kind"], r["term"], r["id"], tuple(r["positions"]))
            for r in df.select("kind", "term", "id", "positions").collect()
        )

    want = canon(keyword_index.build_positions_all(live))
    assert canon(got) == want
    assert {r[2] for r in want} == {r[id_col] for r in corpus.collect()}
    if ids == "chunk":
        out["chunks"].unpersist()
