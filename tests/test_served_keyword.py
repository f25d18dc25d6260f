"""The served plain keyword tier (``keyword_index.keyword_search_indexed``)
scores a query from the tf rows alone. Its rows must equal the scan tier's
(``search.keyword_search``) row for row and score for score: on repeated
terms, terms that share a stem, a term that is another term's stem, CJK
bigrams and absent terms; with bigint and "doc:idx" ids, an ``allowed``
filter and a porter2-built index; and on the cut a wave leaves behind, in
both tf modes. The serving layout commits the tf and positions tables
sorted by term within each file."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from connapse_spark.functions.porter2 import porter2_stem
from connapse_spark.functions.text import tokenize_py
from connapse_spark.operators import keyword_index as ki
from connapse_spark.operators.search import keyword_score_sql, keyword_search
from connapse_spark.sources import snapshots

TEXTS = [
    "run runs running runner",
    "the runner runs and runs",
    "running late to run",
    "run",
    "cares car care caresses",
    "a car that cares",
    "数据库查询优化 run",
    "查询 数据 数据库",
    "nothing to see here",
    "runs runs runs running running",
]
QUERIES = [
    "run runs running",  # terms that share a stem
    "running run runs run RUN",  # repeated terms
    "runs run",  # "run" is the stem of "runs"
    "cares car",  # "car" is the stem of "cares"
    "数据库 查询",  # CJK bigrams
    "zzzabsent run",  # one absent term
    "zzzabsent",  # only absent terms
]


def _rows(df, id_col="id"):
    return [(r[id_col], r["score"]) for r in df.collect()]


def _tf_pair(tokens):
    return (
        ki.build_tf_postings(tokens, "tokens_exact"),
        ki.build_tf_postings(tokens, "tokens_stemmed"),
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    ).persist()


@pytest.mark.parametrize("ids", ["bigint", "chunk"])
def test_tf_tier_equals_scan_tier(spark, docs, ids):
    if ids == "chunk":
        docs = docs.selectExpr("concat(CAST(doc_id AS string), ':0') AS doc_id", "text")
    tokens = ki.build_token_table(docs)
    tfe, tfs = _tf_pair(tokens)
    allowed = docs.filter(F.col("doc_id").substr(1, 1).isin("0", "2", "4", "6"))
    for q in QUERIES:
        for k in (3, 50):
            got = ki.keyword_search_indexed(tokens, tfe, tfs, q, k=k)
            assert _rows(got) == _rows(keyword_search(docs, q, k=k), "doc_id"), (q, k)
            got = ki.keyword_search_indexed(
                tokens, tfe, tfs, q, k=k,
                allowed=allowed.select(F.col("doc_id").alias("id")),
            )
            want = keyword_search(
                docs, q, k=k,
                predicate=F.col("doc_id").substr(1, 1).isin("0", "2", "4", "6"),
            )
            assert _rows(got) == _rows(want, "doc_id"), (q, k, "allowed")
    assert _rows(ki.keyword_search_indexed(tokens, tfe, tfs, "  ", k=5)) == []


def test_tf_tier_equals_token_array_scan_on_porter2_index(spark, docs):
    """A porter2-built index: the reference is the flat score over the
    stored token arrays with porter2 query stems (the scan tier's
    arithmetic under the index's analyzer)."""
    tokens = ki.build_token_table(docs, stemmer="porter2")
    tfe, tfs = _tf_pair(tokens)
    for q in QUERIES + ["studies studied", "rationally"]:
        terms = sorted(set(tokenize_py(q)))
        stems = sorted({porter2_stem(t) for t in terms})
        score = keyword_score_sql("tokens_exact", "tokens_stemmed", terms, stems)
        want = (
            tokens.selectExpr("id", f"{score} AS score")
            .filter("score > 0.0D")
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(50)
        )
        got = ki.keyword_search_indexed(tokens, tfe, tfs, q, k=50, stem_fn=porter2_stem)
        assert _rows(got) == _rows(want), q


@pytest.fixture(scope="module", params=["overwrite", "pending"])
def waved(request, spark, sf_dir, tmp_path_factory):
    """A serving layout over 40 sf docs after one wave in the given tf
    mode (one doc updated, one deleted), and its live chunk corpus."""
    from connapse_spark.operators.ingest import (
        ingest_serving,
        ingest_serving_incremental,
        load_serving,
    )

    src = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    base = str(tmp_path_factory.mktemp(request.param) / "serving")
    out = ingest_serving(src, base_dir=base)
    out["chunks"].unpersist(), out["vectors"].unpersist()
    batch = src.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("running runs run table scans scanned").alias("text")
    )
    out = ingest_serving_incremental(
        batch, base, deleted_doc_ids=[7], tf_mode=request.param
    )
    out["chunks"].unpersist(), out["vectors"].unpersist()
    cut = load_serving(spark, base)
    corpus = snapshots.read_snapshot(
        spark, os.path.join(base, "chunks"), version=cut["tables"]["chunks"]
    ).select(F.col("chunk_id").alias("doc_id"), F.col("content").alias("text"))
    return request.param, base, cut, corpus


def test_tf_tier_on_waved_cut_equals_rebuild_and_scan(waved):
    _, _, cut, corpus = waved
    served = cut["keyword_index"]
    rebuilt = ki.build_keyword_index(corpus)
    for q in ("table scan", "run runs running", "join order merge", "zzzabsent"):
        got = _rows(ki.keyword_search_indexed(
            served.tokens, served.tf_exact, served.tf_stemmed, q, k=10,
            stem_fn=served.stem_fn,
        ))
        want = _rows(ki.keyword_search_indexed(
            rebuilt.tokens, rebuilt.tf_exact, rebuilt.tf_stemmed, q, k=10
        ))
        assert got == want == _rows(keyword_search(corpus, q, k=10), "doc_id"), q
    assert got == []


def test_committed_postings_files_are_sorted_by_term(waved):
    """Every file of the committed tf and positions tables (the build's
    and, on the overwrite layout, the wave's fold) lists its rows in term
    order, so a ``term IN`` lookup prunes row groups."""
    mode, base, _, _ = waved
    for table in ("tf_postings", "positions_postings"):
        table_dir = os.path.join(base, table)
        m = snapshots.load_manifest(table_dir)
        assert m["files"]
        for e in m["files"]:
            terms = pq.read_table(
                os.path.join(table_dir, e["path"]), columns=["term"]
            ).column("term").to_pylist()
            assert terms == sorted(terms), (mode, table, e["path"])
