"""Per-query plan construction: query literals enter a plan as Spark-SQL
text, and a VectorIndex bundle keeps its centroid rows on the driver, so
building a served hybrid query launches no Spark job."""

import math
import os
import random
import struct
import uuid

import pytest
from pyspark.sql import functions as F

from connapse_spark.functions.vector import spark_sql_literal
from connapse_spark.operators.search import SearchOptions, hybrid_search


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_spark_sql_literal_round_trips_doubles_bit_exactly(spark):
    rng = random.Random(20261017)
    vals = []
    while len(vals) < 200:
        x = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        if math.isfinite(x):
            vals.append(x)
    vals += [
        5e-324, -5e-324,  # smallest subnormals
        2.225073858507201e-308,  # largest subnormal
        2.2250738585072014e-308,  # smallest normal
        0.0, -0.0,
        1.7976931348623157e308, -1.7976931348623157e308,
        0.1, 1e16, 1e-9,
    ]
    row = spark.range(1).selectExpr(
        *[f"{spark_sql_literal(v)} AS c{i}" for i, v in enumerate(vals)]
    ).first()
    bad = [(v, row[f"c{i}"]) for i, v in enumerate(vals) if _bits(row[f"c{i}"]) != _bits(v)]
    assert not bad
    dtypes = spark.range(1).selectExpr(f"{spark_sql_literal(0.5)} AS d").dtypes
    assert dtypes == [("d", "double")]


def test_spark_sql_literal_non_finite_and_strings(spark):
    row = spark.range(1).selectExpr(
        f"{spark_sql_literal(float('nan'))} AS nan",
        f"{spark_sql_literal(float('inf'))} AS pinf",
        f"{spark_sql_literal(float('-inf'))} AS ninf",
        f"1.0D - {spark_sql_literal(-2.5)} AS minus_neg",
        f"{spark_sql_literal(chr(39) + 'a' + chr(92) + 'b' + chr(92) + chr(39))} AS s",
        f"{spark_sql_literal(2**40)} AS big",
    ).first()
    assert math.isnan(row["nan"])
    assert row["pinf"] == math.inf and row["ninf"] == -math.inf
    assert row["minus_neg"] == 3.5
    assert row["s"] == "'a\\b\\'"
    assert row["big"] == 2**40
    with pytest.raises(TypeError):
        spark_sql_literal(object())


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )


def _build_layout(docs, base: str) -> str:
    from connapse_spark.operators.ingest import ingest_serving

    out = ingest_serving(docs, base_dir=base)
    out["chunks"].unpersist()
    out["vectors"].unpersist()
    return base


def _jobs_while(spark, fn) -> list:
    sc = spark.sparkContext
    group = f"jobs-while-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_served_hybrid_plan_launches_no_job_after_first_probe(spark, sf_dir, tmp_path):
    from connapse_spark.operators.ingest import load_serving
    from connapse_spark.sources import snapshots

    base = _build_layout(_docs(spark, sf_dir), str(tmp_path / "serving"))
    cut = load_serving(spark, base)
    corpus = snapshots.read_snapshot(spark, os.path.join(base, "chunks")).select(
        F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
    )

    def build(query, websearch):
        return hybrid_search(
            corpus, query, SearchOptions(top_k=5, websearch=websearch),
            keyword_index=cut["keyword_index"], vector_index=cut["vector_index"],
        )

    # opening the cut collects nothing; the first probe collects the rows
    assert cut["vector_index"]._rows is None
    first = build("table scan", False).collect()
    assert first
    frames = []
    assert _jobs_while(spark, lambda: frames.append(build("join order", False))) == []
    assert _jobs_while(spark, lambda: frames.append(build('"table scan" OR join', True))) == []
    assert all(f.collect() for f in frames)


def test_served_plain_query_runs_one_job(spark, sf_dir, tmp_path):
    """On an overwrite-mode cut, a served plain hybrid query and a
    Keyword-mode query each execute as ONE Spark job: the keyword branch
    aggregates the query terms' tf rows in one partition, so no broadcast
    of candidate ids (and no shuffle) splits the query."""
    from connapse_spark.operators.ingest import load_serving
    from connapse_spark.sources import snapshots

    base = _build_layout(_docs(spark, sf_dir), str(tmp_path / "serving"))
    cut = load_serving(spark, base)
    corpus = snapshots.read_snapshot(spark, os.path.join(base, "chunks")).select(
        F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")
    )

    def served(query, mode):
        return hybrid_search(
            corpus, query, SearchOptions(top_k=5, mode=mode),
            keyword_index=cut["keyword_index"], vector_index=cut["vector_index"],
        )

    assert served("table scan", "Hybrid").collect()  # collects the centroids
    for query in ("join order", "table scan merge"):
        for mode in ("Hybrid", "Keyword"):
            rows = []
            jobs = _jobs_while(spark, lambda: rows.extend(served(query, mode).collect()))
            assert rows and len(jobs) == 1, (query, mode, len(jobs))


def test_new_cut_probes_its_own_centroids_after_rebuild(spark, sf_dir, tmp_path, monkeypatch):
    """A wave that refits the IVF index publishes new centroids; the
    bundle of the new cut must rank over them, not over rows another
    bundle collected earlier."""
    from connapse_spark.functions.embed import embed_py
    from connapse_spark.operators.ingest import ingest_serving_incremental, load_serving
    from connapse_spark.plans import ivf

    docs = _docs(spark, sf_dir)
    base = _build_layout(docs, str(tmp_path / "serving"))
    old = load_serving(spark, base)["vector_index"]
    qv = embed_py("table scan", 64)
    old_probe = old.probe_lists([qv])
    assert len(old.centroid_rows()) == 1
    # the reference lists policy gives one list at this size; two lists
    # force the size trigger of maybe_rebuild_index to refit
    monkeypatch.setattr(ivf, "ivf_n_lists", lambda n_rows, policy="reference", max_lists=65536: 2)
    batch = docs.filter(F.col("doc_id") == 3).select(
        "doc_id", F.lit("entirely new content about table scan joins").alias("text")
    )
    out = ingest_serving_incremental(batch, base, deleted_doc_ids=[7])
    out["chunks"].unpersist()
    out["vectors"].unpersist()

    new = load_serving(spark, base)["vector_index"]
    rows = new.centroid_rows()
    want = sorted((r["list_id"], list(r["centroid"])) for r in new.centroids.collect())
    assert len(rows) == 2
    assert sorted((lid, list(c)) for lid, c in rows) == want
    assert new.probe_lists([qv]) == ivf.rank_lists(want, [qv], new.nprobe)
    # the earlier bundle still serves its own pinned cut
    assert len(old.centroid_rows()) == 1 and old.probe_lists([qv]) == old_probe
