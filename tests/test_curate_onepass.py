"""curate() as one per-document pass: its verdicts equal the composition of
the four public stage operators, building it launches no Spark job, and
the executed plan reads and tokenizes the corpus at most twice."""

import os

import pytest
from pyspark.sql import functions as F

from connapse_spark.functions.text import tokens_exact_expr
from connapse_spark.operators import classifier, curate, dedup, textstats
from test_query_literals import _jobs_while

GOOD = (
    "The committee explains the results of the experiment in plain words. "
    "Each section ends with a short summary and the conclusion follows "
    "from the data. It is written for a general audience and the argument "
    "builds slowly. Nothing here requires prior knowledge of the field."
)
OTHER = (
    "A river runs through the valley and the farmers use its water for the "
    "fields in spring. The village holds a market every week where people "
    "trade grain, cloth and tools, and travellers stop to rest on their way "
    "to the coast before the winter storms close the mountain roads."
)
THIRD = (
    "Our team built a small boat from old planks and painted it blue. We "
    "sailed it along the harbour on calm mornings and learned how the tide "
    "moves the water around the rocks. My brother kept notes about each trip "
    "in a book that we still read together when the evenings grow long."
)
LEAKED = "the answer to question seven is forty two"
CJK = "数据处理系统的设计需要考虑性能和可靠性以及扩展能力和维护成本的问题"

ROWS = [
    (1, GOOD),
    (2, OTHER),
    (3, GOOD + " An extra closing sentence."),      # near-dup of 1
    (4, GOOD),                                      # exact dup of 1
    (5, THIRD + " " + LEAKED),                      # contaminated
    (6, ""),                                        # empty: no shingles
    (7, "hello world"),                             # < 3 tokens: no shingles
    (8, CJK),
    (9, CJK + "了"),                                 # CJK near-dup of 8
    (10, GOOD),                                     # second exact dup of 1
    (11, "short text of five words"),               # fails the quality gate
    (12, None),
    (13, None),                                     # same (NULL) content hash
    (14, "hello world"),                            # exact dup of a no-shingle doc
]


def _reference(docs, blocklist, neardup_threshold=0.4, contam_n=3, id_col="doc_id",
               text_col="text", classifier_model=None, min_logit_q=0, tokens_col=None):
    """The four-operator composition curate() replaced: exact dedup,
    MinHash-LSH pairs, contamination screen and Gopher gate, each planned
    on its own and joined on the id."""
    ex = dedup.exact_dedup(docs, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("id"), (~F.col("is_kept")).alias("exact_dup")
    )
    nd = (
        dedup.minhash_lsh_pairs(docs, threshold=neardup_threshold, id_col=id_col,
                                text_col=text_col, tokens_col=tokens_col)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    ct = dedup.contamination_check(docs, blocklist, n=contam_n, id_col=id_col,
                                   text_col=text_col, tokens_col=tokens_col)
    gq = textstats.gopher_filter(
        docs, id_col=id_col, text_col=text_col, tokens_col=tokens_col
    ).select(F.col(id_col).alias("id"), F.col("keep").alias("quality_ok"))
    reason = (
        F.when(F.col("exact_dup"), F.lit("exact_duplicate"))
        .when(F.coalesce(F.col("near_dup"), F.lit(False)), F.lit("near_duplicate"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .when(~F.col("quality_ok"), F.lit("low_quality"))
    )
    verdict = ex.join(nd, "id", "left").join(ct.select("id", "contaminated"), "id").join(gq, "id")
    if classifier_model is not None:
        mq = classifier.quality_classifier_scores(
            docs, model=classifier_model, id_col=id_col, text_col=text_col
        ).select(F.col(id_col).alias("id"), "logit_q")
        verdict = verdict.join(mq, "id")
        reason = reason.when(F.col("logit_q") < F.lit(int(min_logit_q)),
                             F.lit("model_low_quality"))
    return (
        verdict.select("id", reason.otherwise(F.lit("kept")).alias("reason"))
        .select("id", (F.col("reason") == "kept").alias("kept"), "reason")
        .orderBy("id")
    )


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    blocklist = spark.createDataFrame(
        [(LEAKED.split()[i] + " " + LEAKED.split()[i + 1] + " " + LEAKED.split()[i + 2],)
         for i in range(0, 6, 2)] + [("forty two",)],
        "s string",
    )
    return docs, blocklist


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("with_tokens", [False, True])
@pytest.mark.parametrize("custom_cols", [False, True])
def test_curate_equals_stage_composition(spark, corpus, with_tokens, custom_cols):
    docs, blocklist = corpus
    id_col, text_col = ("my_id", "body") if custom_cols else ("doc_id", "text")
    docs = docs.select(F.col("doc_id").alias(id_col), F.col("text").alias(text_col))
    kw = dict(id_col=id_col, text_col=text_col)
    if with_tokens:
        docs = docs.withColumn("_tok", tokens_exact_expr(F.col(text_col)))
        kw["tokens_col"] = "_tok"
    got = _rows(curate.curate(docs, blocklist, **kw))
    assert got == _rows(_reference(docs, blocklist, **kw))
    reasons = {r[0]: r[2] for r in got}
    assert reasons[4] == reasons[10] == "exact_duplicate"
    assert reasons[3] == "near_duplicate" and reasons[9] == "near_duplicate"
    assert reasons[5] == "contaminated"
    assert reasons[11] == "low_quality"
    assert reasons[14] == "exact_duplicate" and reasons[7] != "near_duplicate"
    assert [r[0] for r in got] == sorted(i for i, _ in ROWS)


@pytest.mark.parametrize("contam_n,threshold", [(2, 0.4), (4, 0.2)])
def test_curate_contamination_ngram_differs_from_shingles(spark, corpus, contam_n, threshold):
    """A blocklist n-gram size other than the MinHash shingle size still
    gives the composed stages' verdicts."""
    docs, blocklist = corpus
    bl = blocklist.union(spark.createDataFrame(
        [("valley and",), ("of the experiment in",), ("and the farmers",)], "s string"
    ))
    kw = dict(contam_n=contam_n, neardup_threshold=threshold)
    got = _rows(curate.curate(docs, bl, **kw))
    assert got == _rows(_reference(docs, bl, **kw))
    assert "contaminated" in {r[2] for r in got}


def test_curate_with_classifier_stage_equals_composition(spark, corpus):
    docs, blocklist = corpus
    kw = dict(classifier_model=classifier.QC_PINNED_MODEL, min_logit_q=0)
    got = _rows(curate.curate(docs, blocklist, **kw))
    assert got == _rows(_reference(docs, blocklist, **kw))


def test_curate_plan_shape(spark, corpus, tmp_path):
    """Building curate() runs no Spark job; executing it reads the corpus
    parquet at most twice and tokenizes each document at most once per
    read (the four stacked stage operators read it 5 times and tokenized 3
    times)."""
    _, blocklist = corpus
    path = str(tmp_path / "docs")
    spark.createDataFrame(ROWS, "doc_id long, text string").repartition(3).write.parquet(path)
    docs = spark.read.parquet(path)
    built = []
    assert _jobs_while(spark, lambda: built.append(curate.curate(docs, blocklist))) == []
    df = built[0]
    assert len(df.collect()) == len(ROWS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") <= 2, final
    # the tokenizer's whole-text CJK gate, once per tokenizer evaluation
    assert final.count("RLIKE(lower(replace(") <= 2, final


def test_dataset_card_checkpoints_through_step_helper(spark, sf_dir, monkeypatch):
    """dataset_card's shared (id, text, tokens) frame goes through
    links._step_checkpoint, and the card row still equals the DuckDB
    mirror's."""
    import duckdb

    from connapse_spark.operators import links

    seen = []
    real = links._step_checkpoint

    def spy(df):
        seen.append(df.columns)
        return real(df)

    monkeypatch.setattr(links, "_step_checkpoint", spy)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    blocklist = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.explode(dedup.shingles_expr("text", 3)).alias("s")
    )
    card = curate.dataset_card(docs, blocklist).collect()
    assert seen == [["doc_id", "text", "_ts_shared"]]

    con = duckdb.connect()
    con.register("documents", docs.select("doc_id", "text", "lang").toPandas())
    bl = (
        f"SELECT unnest({dedup.sql_shingles('text', 3)}) AS s "
        "FROM documents WHERE doc_id % 97 = 0"
    )
    want = con.sql(curate.sql_dataset_card(bl)).fetchall()
    assert [tuple(r) for r in card] == [tuple(w) for w in want]
