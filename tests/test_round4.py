"""Round-4 regression tests: the ADVICE fixes (curate column forwarding,
layout-preserving compaction, funnel zero-step rows, S3 listing guard,
empty-terms snippet SQL)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F


def test_compact_preserves_partition_layout(spark, sf_dir, tmp_path):
    """compact() must keep the hive partition dirs (pruning depends on
    them) and emit one file per planned (dir, group) bin."""
    from connapse_spark.sources import sinks

    src = str(tmp_path / "parted")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    (
        orders.withColumn("o_bucket", (F.col("o_orderkey") % 3).cast("int"))
        .repartition(8)
        .write.partitionBy("o_bucket")
        .parquet(src)
    )
    listing = sinks.list_data_files(spark, src)
    total = listing.agg(F.sum("size_bytes")).collect()[0][0]
    target = total // 6 + 1
    plan = sinks.compaction_plan(listing, target_bytes=target)
    plan_rows = plan.collect()

    out = str(tmp_path / "parted_compact")
    n = sinks.compact(spark, src, out, target_bytes=target)
    assert n == len(plan_rows)

    # partition dirs survive (no flattening into data columns)
    out_dirs = sorted(d for d in os.listdir(out) if d.startswith("o_bucket="))
    assert out_dirs == ["o_bucket=0", "o_bucket=1", "o_bucket=2"]

    # one output file per planned bin, in the bin's directory
    compacted = sinks.list_data_files(spark, out)
    got = {(r["dir"], ) for r in compacted.collect()}
    assert compacted.count() == n
    planned_dirs = {(r["dir"],) for r in plan_rows}
    assert {d for (d,) in got} == {d for (d,) in planned_dirs}

    # content round-trips, partition column still a partition column
    before = orders.withColumn("o_bucket", (F.col("o_orderkey") % 3).cast("int"))
    after = spark.read.parquet(out)
    assert after.count() == before.count()
    assert set(after.columns) == set(before.columns)
    # partition pruning works on the compacted layout: scanning one bucket
    # reads only that directory's file(s)
    pruned = after.filter(F.col("o_bucket") == 1)
    files_read = pruned.select(F.col("_metadata.file_path")).distinct().collect()
    assert all("o_bucket=1" in r[0] for r in files_read)


def test_funnel_emits_zero_rows_for_empty_steps(spark):
    from connapse_spark.operators.events import funnel_analysis

    ev = spark.createDataFrame(
        [(1, "view", "2024-01-01 00:00:00"), (2, "view", "2024-01-01 00:01:00")],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = funnel_analysis(ev, steps=("view", "click", "purchase")).collect()
    assert [r["step"] for r in out] == ["view", "click", "purchase"]
    assert [r["n_users"] for r in out] == [2, 0, 0]
    # zero-user steps: conversion is 0, not misattached to the wrong lag
    assert out[1]["conv_from_prev"] == 0.0
    assert out[2]["conv_from_first"] == 0.0


def test_funnel_spark_matches_sql_with_empty_step(spark):
    """The Spark plan and the DuckDB mirror must agree even when a middle
    step has zero conversions (the r3 divergence)."""
    from connapse_spark.operators.events import funnel_analysis, sql_funnel_analysis

    rows = [
        (1, "view", "2024-01-01 00:00:00"),
        (1, "purchase", "2024-01-01 00:02:00"),
        (2, "view", "2024-01-01 00:00:30"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [
        (r["step_idx"], r["step"], r["n_users"], r["conv_from_prev"], r["conv_from_first"])
        for r in funnel_analysis(ev).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({u}, '{t}', TIMESTAMP '{ts}')" for u, t, ts in rows
        )
        + ") AS v(user_id, event_type, ts)"
    )
    con.execute("CREATE MACRO epoch_us(x) AS CAST(epoch_ms(x) AS BIGINT) * 1000")
    want = con.execute(sql_funnel_analysis()).fetchall()
    assert got == [tuple(w) for w in want]


def test_snippets_sql_handles_empty_terms():
    from connapse_spark.operators.search import sql_keyword_search_snippets

    sql = sql_keyword_search_snippets("")
    assert "least()" not in sql
    assert "2147483647 AS rawpos" in sql


def test_curate_forwards_custom_columns(spark):
    """curate() with non-default id/text columns must bind them in every
    stage (the minhash stage silently used the defaults before)."""
    from connapse_spark.operators.curate import curate

    docs = spark.createDataFrame(
        [(i, f"some repeated text body number {i % 3} " * 12) for i in range(12)],
        "my_id long, body string",
    )
    blocklist = spark.createDataFrame([("nonexistent phrase here",)], "s string")
    out = curate(docs, blocklist, id_col="my_id", text_col="body").collect()
    assert len(out) == 12
    reasons = {r["reason"] for r in out}
    assert "near_duplicate" in reasons  # the forwarded minhash stage fired


def test_bucketed_range_join_matches_equi_on_skewed_key(spark):
    """One key holding 200 orders across many band widths (the regime
    where the plain equi-key join goes O(k²)) plus edge cases that sit
    exactly on bin boundaries: the bucketed plan must match the equi-key
    plan row for row."""
    from connapse_spark.operators.temporal import (
        repeat_orders_window,
        repeat_orders_window_bucketed,
    )

    day_us = 86_400_000_000
    rows = []
    # hot key 1: 200 orders, one every 7 days -> history >> band width
    for i in range(200):
        rows.append((i, 1, i * 7 * day_us, float(i + 1)))
    # key 2: orders exactly at band-width boundaries (t = 0, W, 2W)
    W = 30 * day_us
    for i, t in enumerate([0, W, 2 * W, 2 * W + 1]):
        rows.append((1000 + i, 2, t, 10.0))
    # key 3: single order (no priors)
    rows.append((2000, 3, 5 * day_us, 1.0))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate long, o_totalprice double"
    )
    base = {
        r["o_orderkey"]: (r["n_prior"], r["prior_cents"])
        for r in repeat_orders_window(orders).collect()
    }
    bucketed = {
        r["o_orderkey"]: (r["n_prior"], r["prior_cents"])
        for r in repeat_orders_window_bucketed(orders).collect()
    }
    assert bucketed == base
    # boundary semantics sanity: order at t=W sees t=0? band is
    # [W-W, W) = [0, W) -> includes t=0. Order at 2W sees only t=W.
    assert bucketed[1001] == (1, 1000)
    assert bucketed[1002] == (1, 1000)
    assert bucketed[1003][0] == 1  # 2W+1 sees 2W only


def test_bucketed_range_join_shuffle_key_includes_bin(spark):
    """The physical plan must exchange on (ckey, bin), not ckey alone —
    that's the whole point of the bucketed layout."""
    from connapse_spark.operators.temporal import repeat_orders_window_bucketed

    orders = spark.createDataFrame(
        [(1, 1, 0, 1.0)],
        "o_orderkey long, o_custkey long, o_orderdate long, o_totalprice double",
    )
    plan = repeat_orders_window_bucketed(orders)._jdf.queryExecution().toString()
    assert "bin" in plan


def test_asof_join_fuzzed_against_duckdb_native_asof(spark):
    """Property-fuzz the union-window as-of kernel against DuckDB's NATIVE
    ASOF JOIN — an independent engine implementation, the strongest oracle
    in the repo. 1200 randomized cases (random key collisions, timestamp
    ties, exact-boundary equality, empty left / empty right sides) are
    packed into ONE composite-keyed frame: the join partitions by key, so
    distinct (case, key) composites are independent cases, and the whole
    panel costs two engine runs instead of 1200."""
    import random

    from connapse_spark.operators.temporal import asof_join

    rng = random.Random(20260814)
    left_rows, right_rows = [], []
    for case in range(1200):
        n_left = rng.randint(0, 5)   # 0 -> empty-left case
        n_right = rng.randint(0, 5)  # 0 -> empty-right case
        for _ in range(n_left):
            k = case * 10 + rng.randint(0, 2)
            left_rows.append((k, rng.randint(0, 20)))
        seen = {}
        for _ in range(n_right):
            k = case * 10 + rng.randint(0, 2)
            t = rng.randint(0, 20)
            v = rng.randint(-100, 100)
            # contract: right unique per (key, ts) — keep max val like
            # purchase_view_attribution's pre-aggregate
            seen[(k, t)] = max(v, seen.get((k, t), -(10 ** 9)))
        right_rows.extend((k, t, v) for (k, t), v in seen.items())

    left = spark.createDataFrame(left_rows, "k long, t long")
    right = spark.createDataFrame(right_rows, "k long, t long, val long")
    out = asof_join(left, right, key="k", left_ts="t", right_ts="t", right_val="val")
    got = sorted(
        (r["k"], r["t"], r["_asof_val"], r["_asof_ts"])
        for r in out.select(
            "k", "t",
            F.coalesce(F.col("_asof_val"), F.lit(-999)).alias("_asof_val"),
            F.coalesce(F.col("_asof_ts"), F.lit(-999)).alias("_asof_ts"),
        ).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE l (k BIGINT, t BIGINT)")
    con.execute("CREATE TABLE r (k BIGINT, t BIGINT, val BIGINT)")
    if left_rows:
        con.executemany("INSERT INTO l VALUES (?, ?)", left_rows)
    if right_rows:
        con.executemany("INSERT INTO r VALUES (?, ?, ?)", right_rows)
    want = sorted(
        tuple(w)
        for w in con.execute(
            "SELECT l.k, l.t, coalesce(r.val, -999), coalesce(r.t, -999) "
            "FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.t >= r.t"
        ).fetchall()
    )
    assert len(got) == len(left_rows)
    assert got == want


def _hybrid_corpus(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vecs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(vecs, "doc_id")


def test_hybrid_many_matches_single_query_results(spark, sf_dir):
    """Per query, the batched hybrid must reproduce hybrid_search_onepass
    row-for-row (same branch cuts, normalization, fusion, tie-breaks)."""
    from connapse_spark.operators.search import (
        SearchOptions,
        hybrid_search_many,
        hybrid_search_onepass,
    )

    corpus = _hybrid_corpus(spark, sf_dir)
    queries = [(1, "table scan fast merge"), (2, "parallel hash aggregation")]
    many = hybrid_search_many(corpus, queries, top_k=8).collect()
    for qid, qtext in queries:
        single = hybrid_search_onepass(corpus, qtext, SearchOptions(top_k=8)).collect()
        mine = [r for r in many if r["qid"] == qid]
        assert [(r["doc_id"], r["score"], r["source"]) for r in mine] == [
            (r["id"], r["score"], r["source"]) for r in single
        ], qid


def test_hybrid_many_amortizes_scan(spark, sf_dir):
    """Plan invariance in query count: 20 hybrid queries cost the same
    corpus-side plan (scans, Arrow exchanges, aggregations) as 1 — only
    per-row expression width grows. The invariance IS the amortization."""
    from connapse_spark.operators.search import hybrid_search_many

    corpus = _hybrid_corpus(spark, sf_dir)

    def shape(n_queries):
        queries = [(i, f"table scan merge sort hash number {i}") for i in range(n_queries)]
        plan = (
            hybrid_search_many(corpus, queries, top_k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return {
            m: plan.count(m)
            for m in (
                "FileScan", "Generate", "HashAggregate",
                "Exchange hashpartitioning", "ArrowEvalPython", "MapInPandas",
            )
        }

    assert shape(1) == shape(20)


def test_salted_agg_equals_plain_on_skewed_fixture(spark):
    """90% of rows share one hot key: the salted two-stage result must be
    identical to the plain aggregate, including exact count_distinct and
    sorted collect_set."""
    from connapse_spark.operators.skew import salted_agg

    rows = [("hot", i % 37, i % 1000) for i in range(9000)]
    rows += [(f"cold{i % 10}", i, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v long, u long")
    got = {
        r["k"]: (r["total"], r["n"], r["mn"], r["mx"], r["nd"], tuple(r["vals"]))
        for r in salted_agg(
            df,
            ["k"],
            {
                "total": ("sum_long", "v"),
                "n": ("count", "v"),
                "mn": ("min", "v"),
                "mx": ("max", "v"),
                "nd": ("count_distinct", "u"),
                "vals": ("collect_set", "v"),
            },
            n_salts=8,
        ).collect()
    }
    want = {
        r["k"]: (r["total"], r["n"], r["mn"], r["mx"], r["nd"], tuple(r["vals"]))
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("total"),
            F.count("v").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.countDistinct("u").alias("nd"),
            F.array_sort(F.collect_set("v")).alias("vals"),
        )
        .collect()
    }
    assert got == want


def test_salted_agg_keys_only_inputs_widen_or_fail_loudly(spark):
    """count('*') grouped by the key alone: hashing only grouping columns
    would give every row of a group ONE salt (skew mitigation silently
    off), so the salt must widen over the frame's other hashable columns —
    and with NO other column it must refuse, pointing at salt_on."""
    import pytest as _pytest

    from connapse_spark.operators.skew import salted_agg

    rows = [("hot", i) for i in range(5000)] + [(f"c{i}", i) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r["k"]: r["n"]
        for r in salted_agg(df, ["k"], {"n": ("count", "*")}, n_salts=8).collect()
    }
    assert got["hot"] == 5000 and got["c7"] == 1
    # the widened salt actually spreads the hot key across sub-keys
    from pyspark.sql import functions as _F

    salted = df.withColumn(
        "_s", _F.pmod(_F.hash("k", "v"), _F.lit(8))
    )
    spread = salted.filter("k = 'hot'").select("_s").distinct().count()
    assert spread > 1
    # single-column frame: no spreading salt can exist — loud refusal
    with _pytest.raises(ValueError, match="salt_on"):
        salted_agg(df.select("k"), ["k"], {"n": ("count", "*")}).collect()


def test_salted_agg_two_stage_plan(spark):
    """The physical plan must show the two-stage shape: an exchange on
    (keys, _salt) feeding an exchange on keys alone."""
    from connapse_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    plan = (
        salted_agg(df, ["k"], {"t": ("sum_long", "v")}, n_salts=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2
    assert "_salt" in plan


def test_salted_agg_distinct_shuffles_on_key_and_value(spark):
    """count_distinct must NOT re-concentrate a hot key's universe in one
    merge task: the plan dedups on (key, value) — an exchange keyed by
    BOTH columns — then counts per key. No collect_list/flatten of
    per-salt sets anywhere."""
    from connapse_spark.operators.skew import salted_agg

    import contextlib
    import io
    import re

    df = spark.createDataFrame([("a", 1)], "k string, u long")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_agg(df, ["k"], {"nd": ("count_distinct", "u")}, n_salts=4).explain(
            "formatted"
        )
    plan = buf.getvalue()
    assert re.search(r"hashpartitioning\(k#\d+, u#\d+", plan)  # (key, value) dedup
    assert "collect_list" not in plan and "flatten" not in plan


def test_salted_agg_identical_rows_still_spread(spark):
    """A hot key whose rows are byte-identical must still split across
    salts (row-position round-robin default, not a content hash): stage 1
    is correct regardless, so we pin the RESULT and that the default salt
    expression is content-independent."""
    from connapse_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("hot", 5)] * 4000, "k string, v long")
    got = salted_agg(
        df, ["k"], {"t": ("sum_long", "v"), "n": ("count", "v")}, n_salts=8
    ).collect()
    assert [(r["k"], r["t"], r["n"]) for r in got] == [("hot", 20000, 4000)]
    # content-independent default: identical rows land on many salts
    from pyspark.sql import functions as F

    n_salts_hit = (
        df.withColumn("_s", F.pmod(F.monotonically_increasing_id(), F.lit(8)))
        .select("_s").distinct().count()
    )
    assert n_salts_hit > 1


def test_salted_agg_all_null_distinct_key_counts_zero(spark):
    """A key whose distinct column is entirely NULL must still appear,
    with count 0 — count(DISTINCT) semantics."""
    from connapse_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("a", 1, 7), ("a", 2, 8), ("b", None, 9)],
        "k string, u int, v int",
    )
    got = {
        r["k"]: (r["nd"], r["t"])
        for r in salted_agg(
            df, ["k"], {"nd": ("count_distinct", "u"), "t": ("sum_long", "v")}
        ).collect()
    }
    assert got == {"a": (2, 15), "b": (0, 9)}


def test_hybrid_many_empty_query_matches_onepass_guard(spark, sf_dir):
    """An empty/whitespace query in a batch yields ZERO rows for that qid
    (onepass's Q13 guard), never a vector-only ranking; all-empty batches
    return an empty frame in the output schema. Both tiers."""
    from connapse_spark.operators.search import (
        hybrid_search_many,
        hybrid_search_many_fast,
    )

    corpus = _hybrid_corpus(spark, sf_dir)
    for fn in (hybrid_search_many, hybrid_search_many_fast):
        out = fn(corpus, [(1, "data processing"), (2, "   "), (3, "")], top_k=5)
        qids = {r["qid"] for r in out.collect()}
        assert qids == {1}, fn.__name__
        empty = fn(corpus, [(2, "   ")], top_k=5)
        assert empty.count() == 0
        assert empty.columns == [
            "qid", "doc_id", "score", "vector_score", "keyword_score", "source",
        ]


def test_epoch_us_any_int_column_is_seconds(spark):
    """A 32-bit int column cannot hold epoch micros (~35 minutes max) —
    it must be read as epoch SECONDS and scaled, unlike bigint which is
    taken as micros."""
    from connapse_spark.operators.events import epoch_us_any

    df = spark.createDataFrame([(1_700_000_000,)], "ts int")
    got = df.select(epoch_us_any(df, "ts").alias("us")).collect()[0]["us"]
    assert got == 1_700_000_000 * 1_000_000
    df64 = spark.createDataFrame([(1_700_000_000_000_000,)], "ts bigint")
    got64 = df64.select(epoch_us_any(df64, "ts").alias("us")).collect()[0]["us"]
    assert got64 == 1_700_000_000_000_000


def test_epoch_us_any_bigint_magnitude_bands_and_explicit_unit(spark):
    """r5 ADVICE fix: a bigint column is no longer hard-assumed micros —
    auto mode resolves per value by magnitude (seconds / millis / micros),
    and an explicit unit always wins."""
    import pytest as _pytest

    from connapse_spark.operators.events import epoch_us_any

    df = spark.createDataFrame(
        [(1_700_000_000,), (1_700_000_000_000,), (1_700_000_000_000_000,)],
        "ts bigint",
    )
    got = sorted(r["us"] for r in df.select(epoch_us_any(df, "ts").alias("us")).collect())
    # all three encodings of the same instant resolve identically
    assert got == [1_700_000_000_000_000] * 3
    forced = sorted(
        r["us"] for r in df.select(epoch_us_any(df, "ts", unit="ms").alias("us")).collect()
    )
    assert forced == [
        1_700_000_000 * 1_000,
        1_700_000_000_000 * 1_000,
        1_700_000_000_000_000 * 1_000,
    ]
    with _pytest.raises(ValueError, match="unit"):
        epoch_us_any(df, "ts", unit="ns")


def test_unsupported_image_variant_routes_to_stub_with_label(spark):
    """A progressive JPEG (supported format, unsupported variant) must get
    deterministic stub features per the module contract — labeled, so the
    row is diagnosable — while a corrupt PNG stays a zero-dim error row."""
    from connapse_spark.operators import multimodal as mm

    progressive = (
        b"\xff\xd8\xff\xc2" + (11).to_bytes(2, "big")
        + bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    corrupt_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8
    rows = [
        (1, "image", bytearray(progressive), "image/jpeg", 0, 0, 0),
        (2, "image", bytearray(corrupt_png), "image/png", 0, 0, 0),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in mm.extract_image_features(media).collect()}
    assert out[1]["width"] > 0 and out[1]["height"] > 0  # stub dims
    assert out[1]["decode_error"] == "UnsupportedJpegProcess"
    assert out[2]["width"] == 0 and out[2]["decode_error"].startswith("PngParseError")


def test_hybrid_many_filtered_keeps_one_scan(spark, sf_dir):
    """Adding per-query predicates must not add a corpus scan: the masks
    are one boolean array in the same projection, so scan/exchange/
    MapInPandas counts match the unfiltered batch plan."""
    from pyspark.sql import functions as F

    from connapse_spark.operators.search import hybrid_search_many

    corpus = _hybrid_corpus(spark, sf_dir)
    queries = [(i, f"merge sort {i}") for i in range(5)]

    def shape(preds):
        plan = (
            hybrid_search_many(corpus, queries, top_k=5, predicates=preds)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return {
            m: plan.count(m)
            for m in ("FileScan", "Exchange hashpartitioning", "MapInPandas")
        }

    assert shape(None) == shape({i: F.col("lang") == "en" for i in range(5)})


def test_hybrid_many_filtered_tiers_and_semantics(spark, sf_dir):
    """Per-query predicates in the batch regime: each qid's results match
    the single-query filtered onepass; the BLAS tier matches the oracle
    tier per qid (ids + ranking); a predicate matching nothing yields
    zero rows for that qid only."""
    from pyspark.sql import functions as F

    from connapse_spark.operators.search import (
        SearchOptions,
        hybrid_search_many,
        hybrid_search_many_fast,
        hybrid_search_onepass,
    )

    corpus = _hybrid_corpus(spark, sf_dir)
    queries = [(1, "table scan fast merge"), (2, "parallel hash aggregation"),
               (3, "columnar storage layout")]
    preds = {
        1: F.col("lang") == "en",
        2: F.col("doc_id") % 2 == 0,
        3: F.lit(False),  # matches nothing
    }
    slow = hybrid_search_many(corpus, queries, top_k=6, predicates=preds)
    rows = slow.collect()
    assert {r["qid"] for r in rows} == {1, 2}
    assert all(r["doc_id"] % 2 == 0 for r in rows if r["qid"] == 2)
    # per-qid equality with the verified single-query filtered onepass
    for qid, qtext in queries[:2]:
        single = hybrid_search_onepass(
            corpus, qtext, SearchOptions(top_k=6), predicate=preds[qid]
        ).collect()
        got = [(r["doc_id"], round(r["score"], 9)) for r in rows if r["qid"] == qid]
        want = [(r["id"], round(r["score"], 9)) for r in single]
        assert got == want, qid
    # production tier: same ids in the same order per qid
    fast = hybrid_search_many_fast(corpus, queries, top_k=6, predicates=preds)
    fast_rows = fast.collect()
    assert {r["qid"] for r in fast_rows} == {1, 2}
    for qid in (1, 2):
        assert [r["doc_id"] for r in fast_rows if r["qid"] == qid] == [
            r["doc_id"] for r in rows if r["qid"] == qid
        ], qid


def test_neardup_components_tiers_agree(spark):
    """The driver union-find fast tier (bounded limit-probe collect) must
    produce cell-for-cell the same (id, component) labels as the
    distributed label-propagation tier, including chains (path
    compression), multi-cluster graphs, and self-pairs."""
    from connapse_spark.operators.dedup import neardup_components

    pairs = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1),  # chain collapsing to 1
         (10, 11), (11, 12), (10, 12),    # triangle
         (20, 20),                        # self pair
         (31, 30)],                       # reversed order
        "id_a long, id_b long",
    )
    fast = [(r["id"], r["component"]) for r in neardup_components(pairs).collect()]
    slow = [
        (r["id"], r["component"])
        for r in neardup_components(pairs, driver_edge_limit=0).collect()
    ]
    assert fast == slow
    comp = dict(fast)
    assert comp[5] == comp[1] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == 20 and comp[31] == 30


def test_salted_agg_null_grouping_key_is_a_real_group(spark):
    """SQL GROUP BY treats NULL as a real group: the count_distinct merge
    join must be null-safe, or the NULL key silently gets count 0."""
    from connapse_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 20), ("a", 3, 30)],
        "k string, u int, v int",
    )
    got = {
        r["k"]: (r["nd"], r["t"])
        for r in salted_agg(
            df, ["k"], {"nd": ("count_distinct", "u"), "t": ("sum_long", "v")}
        ).collect()
    }
    assert got == {None: (2, 30), "a": (1, 30)}


def test_salted_agg_distinct_only_keeps_all_null_groups(spark):
    """With ONLY count_distinct aggs, a key whose distinct column is all
    NULL must still appear with count 0 (there is no monoid frame to
    carry the group set — the distinct-keys base must)."""
    from connapse_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None)], "k string, u int"
    )
    got = {
        r["k"]: r["nd"]
        for r in salted_agg(df, ["k"], {"nd": ("count_distinct", "u")}).collect()
    }
    assert got == {"a": 2, "b": 0}


def test_leakage_safe_split_string_ids(spark):
    """String document ids must split (no numeric cast): ids keep their
    type, near-dup string clusters still move together."""
    from connapse_spark.operators import sampling

    pairs = spark.createDataFrame(
        [("doc-a", "doc-b")], "id_a string, id_b string"
    )
    docs = spark.createDataFrame(
        [("doc-a",), ("doc-b",), ("doc-c",)], "doc_id string"
    )
    rows = {
        r["id"]: (r["group_key"], r["split"])
        for r in sampling.leakage_safe_split(docs, pairs, 0.5).collect()
    }
    assert len(rows) == 3
    assert rows["doc-a"][0] == rows["doc-b"][0] == "doc-a"
    assert rows["doc-a"][1] == rows["doc-b"][1]
    assert rows["doc-c"][0] == "doc-c"


def test_sql_hybrid_many_mirror_applies_q13_guard(spark):
    """The oracle mirror must drop empty/whitespace queries exactly like
    both Spark tiers — otherwise the oracle returns a vector-only
    ranking for a qid the implementation returns zero rows for."""
    from connapse_spark.operators.search import sql_hybrid_search_many

    sql = sql_hybrid_search_many([(1, "real query"), (2, "   ")], top_k=5)
    assert "UNION ALL" not in sql  # only the one surviving block
    assert "CAST(1 AS INT)" in sql and "CAST(2 AS INT)" not in sql
    empty = sql_hybrid_search_many([(2, "")], top_k=5)
    assert "WHERE 1 = 0" in empty


def test_leakage_safe_split_keeps_dup_clusters_together(spark):
    """Every near-dup component must land entirely on one side of the
    split; singletons are their own group; no document is lost."""
    from connapse_spark.operators import sampling

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "doc_id long"
    )
    rows = {
        r["id"]: (r["group_key"], r["split"])
        for r in sampling.leakage_safe_split(
            docs, pairs, test_fraction=0.5
        ).collect()
    }
    assert len(rows) == 7
    assert rows[1][0] == rows[2][0] == rows[3][0] == 1  # min-id canonical
    assert rows[10][0] == rows[11][0] == 10
    assert rows[1][1] == rows[2][1] == rows[3][1]  # cluster moves together
    assert rows[10][1] == rows[11][1]
    assert rows[20][0] == 20 and rows[21][0] == 21  # singletons


def test_salted_agg_rejects_non_decomposable(spark):
    from connapse_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError, match="not decomposable"):
        salted_agg(df, ["k"], {"m": ("median", "v")})


def test_ivf_drift_zero_on_converged_and_positive_on_drifted(spark):
    from connapse_spark.plans.ivf import ivf_drift

    def vec(axis, eps):
        v = [0.0] * 64
        v[axis] = 1.0
        v[(axis + 1) % 64] = eps
        return v

    # two tight, orthogonal clusters correctly assigned -> a centroid
    # refresh changes nothing
    rows = []
    for i in range(10):
        rows.append((i, 0, vec(0, 0.01 * i)))
        rows.append((100 + i, 1, vec(7, 0.01 * i)))
    good = spark.createDataFrame(
        [(i, l, v, 1.0) for i, l, v in rows],
        "id long, list_id long, vec array<double>, norm double",
    )
    r = ivf_drift(good).collect()[0]
    assert (r["n_vectors"], r["n_lists"], r["n_reassigned"]) == (20, 2, 0)
    assert r["reassign_frac"] == 0.0

    # swap half of cluster 1's members into list 0: the refresh must
    # want them back
    drifted = spark.createDataFrame(
        [(i, 0 if l == 1 and i % 2 == 0 else l, v, 1.0) for i, l, v in rows],
        "id long, list_id long, vec array<double>, norm double",
    )
    r2 = ivf_drift(drifted).collect()[0]
    assert r2["n_reassigned"] > 0
    assert r2["reassign_frac"] > 0.0


# ---------------------------------------------------------------------------
# PNG codec (round 4): the compressed-image tier goes real
# ---------------------------------------------------------------------------


def test_png_roundtrip_rgb():
    import numpy as np

    from connapse_spark.operators.multimodal import decode_image_array, encode_png

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    out, err = decode_image_array(encode_png(arr))
    assert err is None and (out == arr).all()


def test_png_all_filter_types_unfilter_correctly():
    """Hand-filter scanlines with each of the five filters and verify the
    decoder restores the original pixels."""
    import zlib

    import numpy as np

    from connapse_spark.operators.multimodal import decode_image_array

    rng = np.random.default_rng(11)
    h, w, ch = 5, 7, 3
    arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    stride = w * ch
    flat = arr.reshape(h, stride).astype(int)
    raw = bytearray()
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        raw.append(ft)
        prev = flat[y - 1] if y else [0] * stride
        for x in range(stride):
            cur = flat[y][x]
            a = flat[y][x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch and y else 0
            if ft == 0:
                v = cur
            elif ft == 1:
                v = cur - a
            elif ft == 2:
                v = cur - b
            elif ft == 3:
                v = cur - ((a + b) >> 1)
            else:
                v = cur - paeth(a, b, c)
            raw.append(v & 0xFF)

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big") + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    blob = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    out, err = decode_image_array(blob)
    assert err is None and (out == arr).all()


def test_png_color_types_normalize_to_rgb():
    import zlib

    import numpy as np

    from connapse_spark.operators.multimodal import decode_image_array

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big") + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    def png(w, h, ct, raw, plte=None):
        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ct, 0, 0, 0])
        body = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", plte)
        return body + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # grayscale 2x2
    out, err = decode_image_array(png(2, 2, 0, b"\x00\x0a\x14\x00\x1e\x28"))
    assert err is None and out.shape == (2, 2, 3)
    assert (out[0, 0] == [10, 10, 10]).all()
    # RGBA drops alpha
    rgba = b"\x00" + bytes([1, 2, 3, 255, 4, 5, 6, 0])
    out, err = decode_image_array(png(2, 1, 6, rgba))
    assert err is None and (out[0, 1] == [4, 5, 6]).all()
    # palette resolves through PLTE
    pal = bytes([255, 0, 0, 0, 255, 0])
    out, err = decode_image_array(png(2, 1, 3, b"\x00\x00\x01", plte=pal))
    assert err is None and (out[0, 1] == [0, 255, 0]).all()
    # 16-bit depth is a labeled unsupported, not a crash
    ihdr16 = (2).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes([16, 2, 0, 0, 0])
    blob16 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 13)) + chunk(b"IEND", b"")
    )
    out, err = decode_image_array(blob16)
    assert out is None and err == "UnsupportedBitDepth"


def test_png_flows_through_image_features(spark):
    """The Spark feature extractor must treat PNG as a REAL decode: true
    dims and luma, no stub marker."""
    import numpy as np

    from connapse_spark.operators.multimodal import encode_png, extract_image_features

    arr = np.full((4, 6, 3), 100, dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(encode_png(arr)), "image/png")],
        "media_id long, content binary, media_type string",
    )
    row = extract_image_features(media).collect()[0]
    assert (row["width"], row["height"]) == (6, 4)
    assert abs(row["mean_luma"] - 100.0 / 255.0) < 0.01  # luma normalized to [0,1]


def test_hybrid_many_fast_ranking_parity_with_oracle_tier(spark, sf_dir):
    """The BLAS tier must produce the identical per-query ranking (ids in
    order) as the fold tier, and scores within FP-accumulation noise."""
    from connapse_spark.operators.search import (
        hybrid_search_many,
        hybrid_search_many_fast,
    )

    corpus = _hybrid_corpus(spark, sf_dir)
    queries = [(1, "table scan fast merge"), (2, "parallel hash aggregation"),
               (3, "columnar storage layout compression")]
    slow = hybrid_search_many(corpus, queries, top_k=8).collect()
    fast = hybrid_search_many_fast(corpus, queries, top_k=8).collect()
    assert [(r["qid"], r["doc_id"], r["source"]) for r in slow] == [
        (r["qid"], r["doc_id"], r["source"]) for r in fast
    ]
    for a, b in zip(slow, fast):
        assert abs(a["score"] - b["score"]) < 1e-9
        assert abs(a["vector_score"] - b["vector_score"]) < 1e-9
        assert a["keyword_score"] == b["keyword_score"]  # integer math: exact


def test_hybrid_many_fast_plan_invariant_in_query_count(spark, sf_dir):
    from connapse_spark.operators.search import hybrid_search_many_fast

    corpus = _hybrid_corpus(spark, sf_dir)

    def shape(n):
        queries = [(i, f"table scan merge sort hash number {i}") for i in range(n)]
        plan = (
            hybrid_search_many_fast(corpus, queries, top_k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return {
            m: plan.count(m)
            for m in ("FileScan", "MapInPandas", "Exchange hashpartitioning",
                      "HashAggregate", "Generate")
        }

    assert shape(1) == shape(40)


def test_bucketed_range_join_fuzzed_against_duckdb(spark):
    """800 randomized banded-join cases (key collisions, boundary hits at
    exact multiples of the band width, empty histories) packed into one
    composite-keyed frame, checked against DuckDB's direct banded-join
    SQL — independent engine, same band semantics [t-W, t)."""
    import random

    from connapse_spark.operators.temporal import repeat_orders_window_bucketed

    W = 1000
    rng = random.Random(42)
    rows = []
    okey = 0
    for case in range(800):
        n = rng.randint(0, 6)
        for _ in range(n):
            k = case * 5 + rng.randint(0, 1)
            # cluster timestamps around band multiples to hit boundaries
            t = rng.choice([0, W - 1, W, W + 1, 2 * W, rng.randint(0, 5 * W)])
            rows.append((okey, k, t, float(rng.randint(1, 500)) / 100.0))
            okey += 1
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate long, o_totalprice double"
    )
    got = sorted(
        (r["o_orderkey"], r["n_prior"], r["prior_cents"])
        for r in repeat_orders_window_bucketed(orders, window_us=W).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE o (okey BIGINT, ckey BIGINT, t BIGINT, cents BIGINT)")
    con.executemany(
        "INSERT INTO o VALUES (?, ?, ?, ?)",
        [(ok, k, t, round(p * 100)) for ok, k, t, p in rows],
    )
    want = sorted(
        tuple(w)
        for w in con.execute(
            "SELECT a.okey, count(b.okey), CAST(coalesce(sum(b.cents), 0) AS BIGINT) "
            f"FROM o a LEFT JOIN o b ON a.ckey = b.ckey AND b.t < a.t AND b.t >= a.t - {W} "
            "GROUP BY a.okey"
        ).fetchall()
    )
    assert len(got) == len(rows)
    assert got == want


# ---------------------------------------------------------------------------
# GIF decoder (round 4)
# ---------------------------------------------------------------------------


def _gif_encode(px, palette, min_code, interlace=False):
    """Minimal GIF writer for fixtures: literal-code LZW whose table/width
    bookkeeping mirrors the decoder's (first code after CLEAR adds no
    entry; width grows when next_code hits 2^width)."""
    import numpy as np

    h, w = px.shape
    clear = 1 << min_code
    eoi = clear + 1

    codes = []
    width = min_code + 1
    codes.append((clear, width))
    next_code, first = eoi + 1, True
    rows = px
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = px[order]
    for v in rows.flatten():
        codes.append((int(v), width))
        if first:
            first = False
        else:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        if next_code >= 4093:
            codes.append((clear, width))
            width, next_code, first = min_code + 1, eoi + 1, True
    codes.append((eoi, width))

    acc = bits = 0
    data = bytearray()
    for code, cw in codes:
        acc |= code << bits
        bits += cw
        while bits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        data.append(acc & 0xFF)

    n_colors = len(palette)
    gct_bits = max(1, (n_colors - 1).bit_length()) - 1
    gct_n = 2 << gct_bits
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes([r, g, b])
    pal += bytes(3 * (gct_n - n_colors))

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | gct_bits, 0, 0]) + pal
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext (skipped)
    out += b"\x2c" + (0).to_bytes(2, "little") * 2
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0x00, min_code])
    for at in range(0, len(data), 255):
        block = data[at : at + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_roundtrip_palette():
    import numpy as np

    from connapse_spark.operators.multimodal import decode_image_array

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    rng = np.random.default_rng(3)
    px = rng.integers(0, 4, size=(9, 11), dtype=np.uint8)
    out, err = decode_image_array(_gif_encode(px, palette, min_code=2))
    assert err is None and out.shape == (9, 11, 3)
    want = np.array(palette, dtype=np.uint8)[px]
    assert (out == want).all()


def test_gif_interlaced_and_8bit():
    import numpy as np

    from connapse_spark.operators.multimodal import decode_image_array

    palette = [(i, i, i) for i in range(256)]
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(17, 6), dtype=np.uint8)
    out, err = decode_image_array(
        _gif_encode(px, palette, min_code=8, interlace=True)
    )
    assert err is None
    want = np.array(palette, dtype=np.uint8)[px]
    assert (out == want).all()


def test_gif_long_stream_with_clear_resets():
    import numpy as np

    from connapse_spark.operators.multimodal import decode_image_array

    palette = [(i, 0, 255 - i) for i in range(256)]
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(80, 80), dtype=np.uint8)  # 6400 px > 4093
    out, err = decode_image_array(_gif_encode(px, palette, min_code=8))
    assert err is None
    want = np.array(palette, dtype=np.uint8)[px]
    assert (out == want).all()


def test_hybrid_many_fuzzed_vs_onepass_on_random_corpus(spark):
    """Random corpus (random word soup + random unit-ish vectors), six
    random queries: both batched tiers must reproduce
    hybrid_search_onepass per query — ranking AND scores (oracle tier
    exact; fast tier within accumulation noise)."""
    import random

    from connapse_spark.operators.search import (
        SearchOptions,
        hybrid_search_many,
        hybrid_search_many_fast,
        hybrid_search_onepass,
    )

    rng = random.Random(123)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
    rows = []
    for i in range(300):
        text = " ".join(rng.choices(vocab, k=rng.randint(3, 30)))
        vec = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, text, vec))
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )
    queries = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(1, 4)))) for i in range(6)
    ]
    many = hybrid_search_many(corpus, queries, top_k=7).collect()
    fast = hybrid_search_many_fast(corpus, queries, top_k=7).collect()
    for qid, qtext in queries:
        single = hybrid_search_onepass(corpus, qtext, SearchOptions(top_k=7)).collect()
        m = [r for r in many if r["qid"] == qid]
        f = [r for r in fast if r["qid"] == qid]
        assert [(r["doc_id"], r["score"]) for r in m] == [
            (r["id"], r["score"]) for r in single
        ], ("oracle tier", qid, qtext)
        assert [r["doc_id"] for r in f] == [r["id"] for r in single], (
            "fast tier ranking", qid, qtext,
        )
        for a, b in zip(f, single):
            assert abs(a["score"] - b["score"]) < 1e-9


def test_postings_upsert_removes_stale_terms_and_empty_lists(spark):
    """An upserted doc's STALE terms must leave its old lists, and a term
    whose last doc is deleted must vanish entirely."""
    from connapse_spark.operators.keyword_index import (
        build_postings,
        build_token_table,
        upsert_postings,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "unique_term here")],
        "doc_id long, text string",
    )
    base = build_postings(build_token_table(docs))
    # doc 1 re-written without 'alpha'; doc 3 deleted -> 'unique_term' gone
    batch = spark.createDataFrame([(1, "beta delta")], "doc_id long, text string")
    out = {
        r["term"]: (list(r["ids"]), r["df"])
        for r in upsert_postings(
            base, build_token_table(batch), deleted_ids=[3]
        ).collect()
    }
    assert "alpha" not in out          # stale term left doc 1's lists
    assert "unique_term" not in out    # last doc deleted -> term gone
    assert out["beta"] == ([1, 2], 2)
    assert out["delta"] == ([1], 1)
    assert out["gamma"] == ([2], 1)
    assert "here" not in out


def test_postings_upsert_plan_size_independent_of_batch(spark):
    """VERDICT r8 #1: the removal path must be an anti-join, not a driver
    collect into an F.array(lit…) literal — the plan must carry NO per-id
    literals (a sentinel batch id never appears) and no array_except, and
    its size must not grow with batch cardinality."""
    from connapse_spark.operators.keyword_index import (
        build_postings,
        build_token_table,
        upsert_postings,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    base = build_postings(build_token_table(docs))

    def plan_for(n_deletes):
        batch = spark.createDataFrame(
            [(900_000_042 + j, "beta delta") for j in range(n_deletes)],
            "doc_id long, text string",
        )
        out = upsert_postings(
            base,
            build_token_table(batch),
            deleted_ids=list(range(800_000_000, 800_000_000 + n_deletes)),
        )
        return out._jdf.queryExecution().optimizedPlan().toString()

    small, big = plan_for(2), plan_for(200)
    for plan in (small, big):
        assert "array_except" not in plan
        assert "900000042" not in plan  # no batch-id literal leaked into the plan
        assert "800000123" not in plan  # no deleted-id literal either
    # anti-join removal, and plan size flat across a 100× batch growth
    assert "LeftAnti" in big
    assert len(big) < 1.2 * len(small) + 200


def test_postings_upsert_dataframe_deletions_match_list(spark):
    """deleted_ids may arrive as a DataFrame (change-feed scale, no driver
    collect anywhere) — result must be row-identical to the list path, and
    string chunk ids must maintain too (id-type-agnostic contract)."""
    from connapse_spark.operators.keyword_index import (
        build_postings,
        build_token_table,
        upsert_postings,
    )

    docs = spark.createDataFrame(
        [("d1:0", "alpha beta"), ("d2:0", "beta gamma"), ("d3:0", "solo here")],
        "doc_id string, text string",
    )
    base = build_postings(build_token_table(docs))
    batch = spark.createDataFrame([("d1:0", "beta delta")], "doc_id string, text string")
    toks = build_token_table(batch)
    via_list = upsert_postings(base, toks, deleted_ids=["d3:0"])
    via_df = upsert_postings(
        base, toks, deleted_ids=spark.createDataFrame([("d3:0",)], "id string")
    )
    rows_l = sorted((r["term"], list(r["ids"]), r["df"]) for r in via_list.collect())
    rows_d = sorted((r["term"], list(r["ids"]), r["df"]) for r in via_df.collect())
    assert rows_l == rows_d
    as_map = {t: (ids, df) for t, ids, df in rows_l}
    assert "solo" not in as_map and "here" not in as_map and "alpha" not in as_map
    assert as_map["beta"] == (["d1:0", "d2:0"], 2)
    assert as_map["delta"] == (["d1:0"], 1)


def test_phrase_positions_tier_matches_scan_tier(spark):
    """r9 positions-served batch phrase tier: scores must be bit-equal to
    the scan tier's string-replace count on the corners — periodic
    phrases (non-overlapping count), repeated phrase words, stem-only
    matches, and misses."""
    from connapse_spark.operators.keyword_index import (
        build_positions_postings,
        build_token_table,
        keyword_search_many_phrase_indexed,
    )
    from connapse_spark.operators.search import keyword_search_websearch

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha alpha beta"),       # periodic: "alpha alpha" once
            (2, "alpha alpha alpha alpha"),      # two non-overlapping matches
            (3, "join tables now"),              # stem-only match for "joins tables"
            (4, "tables join now"),              # wrong order: no phrase match
            (5, "gamma delta gamma delta"),      # repeated-bigram doc
        ],
        "doc_id long, text string",
    )
    toks = build_token_table(docs).persist()
    pe = build_positions_postings(toks, "tokens_exact")
    ps = build_positions_postings(toks, "tokens_stemmed")
    # qid 4: one-token quoted phrase — must degenerate to occ == tf and
    # equal the scan tier (r9 review: the contract serves it, not rejects)
    queries = [(1, '"alpha alpha"'), (2, '"joins tables"'),
               (3, '"gamma delta"'), (4, '"alpha"')]
    got = {
        (r["qid"], r["id"]): r["score"]
        for r in keyword_search_many_phrase_indexed(pe, ps, queries, k=10).collect()
    }
    for qid, qtext in queries:
        scan = {
            r["doc_id"]: r["score"]
            for r in keyword_search_websearch(docs, qtext, k=10).collect()
        }
        batch = {i: s for (q, i), s in got.items() if q == qid}
        assert batch == scan, (qid, qtext, batch, scan)
    # sanity on the corners themselves
    assert set(i for (q, i) in got if q == 1) == {1, 2}
    assert got[(1, 2)] > got[(1, 1)]        # two matches outrank one
    assert set(i for (q, i) in got if q == 2) == {3}   # stem-only; order matters
    assert set(i for (q, i) in got if q == 3) == {5}
    import pytest as _pt
    with _pt.raises(ValueError, match="phrase tier"):
        keyword_search_many_phrase_indexed(pe, ps, [(1, "plain words")])
    toks.unpersist()


def test_proximity_indexed_matches_scan_tier(spark):
    """r9 served proximity: bit-equal scores to the scan tier on the
    corners — stem-only matches, multi-pair queries, adjacent vs
    scattered occurrences, and misses."""
    from connapse_spark.operators.keyword_index import (
        build_positions_postings,
        build_token_table,
        keyword_search_proximity_indexed,
    )
    from connapse_spark.operators.search import keyword_search_proximity

    docs = spark.createDataFrame(
        [
            (1, "index rebuild ran overnight"),          # adjacent pair
            (2, "index ran overnight x y z rebuild"),    # scattered pair
            (3, "indexes rebuilds here"),                # stem-only matches
            (4, "rebuild alone"),                        # one term only
            (5, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    toks = build_token_table(docs).persist()
    pe = build_positions_postings(toks, "tokens_exact")
    ps = build_positions_postings(toks, "tokens_stemmed")
    for q in ("index rebuild", "index rebuild overnight", "rebuild"):
        scan = [
            (r["doc_id"], r["score"])
            for r in keyword_search_proximity(docs, q, k=10).collect()
        ]
        served = [
            (r["id"], r["score"])
            for r in keyword_search_proximity_indexed(pe, ps, q, k=10).collect()
        ]
        assert served == scan, q
    toks.unpersist()

def test_hybrid_many_fast_websearch_parity_with_oracle_tier(spark, sf_dir):
    """FULL websearch syntax through the PRODUCTION tier (r10 — VERDICT
    r9 ask #3): hybrid_search_many_fast(websearch=True) must equal the
    oracle tier hybrid_search_many(websearch=True) — keyword doubles
    BIT-equal (set-based postings math mirrors websearch_score_sql's FP
    order), full rows equal after the fast family's round-9 vector
    contract. Covers phrases, negation, OR, pure negation, whitespace
    (Q13), predicates, and both the corpus-derived and the served
    (tf + positions postings) regimes."""
    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.search import (
        hybrid_search_many,
        hybrid_search_many_fast,
    )

    corpus = _hybrid_corpus(spark, sf_dir)
    docs = corpus.select("doc_id", "text", "lang")
    queries = [
        (1, '"table scan" fast -merge OR "fast merge"'),
        (2, '"customer join" -slow'),
        (3, 'vector OR "hash aggregation"'),
        (4, 'parallel -"hash join"'),
        (5, "-nothing"),
        (6, "   "),
    ]
    preds = {2: F.col("lang") == "en", 3: F.col("doc_id") % 2 == 0}

    def canon(rows):
        return [
            (r["qid"], r["doc_id"], round(r["score"], 9),
             round(r["vector_score"], 9), round(r["keyword_score"], 9),
             r["source"])
            for r in rows
        ]

    want = hybrid_search_many(
        corpus, queries, top_k=5, websearch=True, predicates=preds
    ).collect()
    # regime 1: postings derived from the corpus inside the tier
    got_scan = hybrid_search_many_fast(
        corpus, queries, top_k=5, websearch=True, predicates=preds
    ).collect()
    assert canon(got_scan) == canon(want)
    # regime 2: served from write-time tf + positions postings
    tokens = ki.build_token_table(docs).persist()
    try:
        tfe = ki.build_tf_postings(tokens, "tokens_exact")
        tfs = ki.build_tf_postings(tokens, "tokens_stemmed")
        pe = ki.build_positions_postings(tokens, "tokens_exact")
        ps = ki.build_positions_postings(tokens, "tokens_stemmed")
        got_srv = hybrid_search_many_fast(
            corpus, queries, top_k=5, websearch=True, predicates=preds,
            tf_postings=(tfe, tfs), positions_postings=(pe, ps),
        ).collect()
    finally:
        tokens.unpersist()
    assert canon(got_srv) == canon(want)
    # keyword branch doubles are BIT-equal, not just round-9-equal
    wk = sorted((r["qid"], r["doc_id"], r["keyword_score"]) for r in want)
    for got in (got_scan, got_srv):
        assert sorted((r["qid"], r["doc_id"], r["keyword_score"]) for r in got) == wk


def test_hybrid_many_fast_autoroutes_oversized_websearch(spark, sf_dir):
    """A >63-atom websearch query in a batch must no longer force the
    CALLER to know about tier routing (r11 — VERDICT r10 ask #6):
    hybrid_search_many_fast splits the batch, keeps the in-width queries
    on the fast path, answers the oversized ones through the oracle
    tier, and the merged rows equal running the WHOLE batch on the
    oracle tier. A custom stem_fn with an oversized query still raises
    (the oracle fallback stems with the default analyzer — silent
    mis-stemming is worse than the error)."""
    import pytest as _pytest

    from connapse_spark.operators.search import (
        hybrid_search_many,
        hybrid_search_many_fast,
        parse_websearch,
    )

    corpus = _hybrid_corpus(spark, sf_dir)
    # 64 single-term atoms → one over the bitmask width
    big_q = " OR ".join(f"term{i:02d}" for i in range(63)) + ' OR "table scan"'
    assert sum(len(g) for g in parse_websearch(big_q)) == 64
    queries = [
        (1, '"table scan" fast -merge'),
        (2, "vector join"),
        (3, big_q),
    ]

    def canon(rows):
        return sorted(
            (r["qid"], r["doc_id"], round(r["score"], 9),
             round(r["vector_score"], 9), round(r["keyword_score"], 9),
             r["source"])
            for r in rows
        )

    want = hybrid_search_many(corpus, queries, top_k=5, websearch=True).collect()
    got = hybrid_search_many_fast(corpus, queries, top_k=5, websearch=True).collect()
    assert {r["qid"] for r in got} >= {1, 3}  # both tiers contributed
    assert canon(got) == canon(want)
    with _pytest.raises(ValueError, match="stem_fn"):
        hybrid_search_many_fast(
            corpus, queries, top_k=5, websearch=True,
            stem_fn=lambda t: t,
        ).collect()


def test_websearch_scores_indexed_phrase_without_positions_raises(spark):
    """A batch holding a quoted phrase but no positions postings must
    raise (routing contract), not silently drop the phrase."""
    import pytest as _pytest

    from connapse_spark.operators import keyword_index as ki

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string",
    )
    tokens = ki.build_token_table(docs)
    tfe = ki.build_tf_postings(tokens, "tokens_exact")
    tfs = ki.build_tf_postings(tokens, "tokens_stemmed")
    with _pytest.raises(ValueError, match="positions"):
        ki.websearch_scores_indexed(tfe, tfs, None, None, [(1, '"alpha beta"')])
    # flat-term batches need no positions tables at all
    out = ki.websearch_scores_indexed(tfe, tfs, None, None, [(1, "beta -delta")])
    assert [r["id"] for r in out.collect()] == [1]

@pytest.mark.slow
def test_websearch_scores_indexed_seeded_fuzz_vs_reference(spark):
    """Seeded random websearch BATCHES through the set-based indexed tier
    (r10) checked against the documented reference semantics — the same
    Python evaluator the SQL-mirror fuzz uses (test_properties): for
    every (query, doc), match = OR-of-AND-groups over per-config
    presence, score = TF raw/(raw+1) over positive singles + phrases.
    Batching keeps it one Spark job per seed while still walking the
    phrase × negation × OR space."""
    import random

    from test_properties import _WS_DOCS, _WS_VOCAB, _ws_match, _ws_score

    from connapse_spark.functions.text import stem_py, tokenize_py
    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.search import parse_websearch

    docs = spark.createDataFrame(_WS_DOCS, "doc_id long, text string")
    tokens = ki.build_token_table(docs)
    tfe = ki.build_tf_postings(tokens, "tokens_exact")
    tfs = ki.build_tf_postings(tokens, "tokens_stemmed")
    pe = ki.build_positions_postings(tokens, "tokens_exact")
    ps = ki.build_positions_postings(tokens, "tokens_stemmed")

    def rand_query(rng):
        parts = []
        for _ in range(rng.randint(0, 5)):
            neg = rng.random() < 0.3
            kind = rng.random()
            if kind < 0.35:
                words = [rng.choice(_WS_VOCAB) for _ in range(rng.randint(1, 3))]
                unit = '"' + " ".join(words) + '"'
            elif kind < 0.45:
                unit = "OR"
                neg = False
            elif kind < 0.55:
                unit = "fast-merge"
            else:
                unit = rng.choice(_WS_VOCAB)
            parts.append(("-" if neg else "") + unit)
        return " ".join(parts)

    for seed in (7, 29, 101):
        rng = random.Random(seed)
        queries = [(i, rand_query(rng)) for i in range(25)]
        expected = {}
        for qid, q in queries:
            groups = parse_websearch(q)
            if not groups:
                continue
            for doc_id, text in _WS_DOCS:
                te = tokenize_py(text)
                ts = [stem_py(t) for t in te]
                if _ws_match(te, ts, groups):
                    sc = _ws_score(te, ts, groups)
                    if sc > 0.0:
                        expected[(qid, doc_id)] = round(sc, 9)
        got = {
            (r["qid"], r["id"]): round(r["score"], 9)
            for r in ki.websearch_scores_indexed(
                tfe, tfs, pe, ps, queries
            ).collect()
        }
        assert got == expected, (
            seed,
            {k: v for k, v in got.items() if expected.get(k) != v},
            {k: v for k, v in expected.items() if got.get(k) != v},
        )
