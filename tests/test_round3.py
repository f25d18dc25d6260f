"""Round-3 regressions: TZ-independent event loading, driver-collect guard,
perplexity OOV contract, non-contiguous-id seeds, derived semdedup k, and
the single-lineage hybrid_search_onepass (no persist, no eager jobs)."""

import os

import pytest
from pyspark.sql import functions as F

from connapse_spark.operators import events, similarity, textstats


# ---------------------------------------------------------------------------
# load_events: every historical ts shape must normalize to the SAME naive-UTC
# TIMESTAMP_NTZ regardless of the session timezone (ADVICE r2: the LTZ→NTZ
# cast path rendered wall-clock in the session TZ and broke oracle parity on
# non-UTC harnesses).
# ---------------------------------------------------------------------------

_WALL_US = 1_704_110_400_000_000  # 2024-01-01 12:00:00 UTC in micros


def _write_events(tmp_path, name, arr):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": arr,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    d = tmp_path / name
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Tokyo"])
def test_load_events_ts_shapes_tz_independent(spark, tmp_path, tz):
    import pyarrow as pa

    shapes = {
        "ntz": pa.array([_WALL_US], pa.timestamp("us")),
        "nanos": pa.array([_WALL_US * 1000], pa.timestamp("ns")),
        "ltz": pa.array([_WALL_US], pa.timestamp("us", tz="UTC")),
    }
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", tz)
        for name, arr in shapes.items():
            d = _write_events(tmp_path, f"{name}_{tz.replace('/', '_')}", arr)
            df = events.load_events(spark, d)
            assert dict(df.dtypes)["ts"] == "timestamp_ntz", name
            got = df.select(events._epoch_us("ts").alias("us")).collect()[0]["us"]
            assert got == _WALL_US, (name, tz, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# ---------------------------------------------------------------------------
# knn_join driver-collect guard
# ---------------------------------------------------------------------------


def test_knn_join_guard_raises_beyond_cap(spark, monkeypatch):
    monkeypatch.setattr(similarity, "MAX_DRIVER_QUERIES", 3)
    rows = [(i, [float(i), 1.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ivf_knn_join"):
        similarity.knn_join(df, df, k=2)


def test_knn_join_under_cap_still_works(spark):
    rows = [(i, [float(i), 1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.knn_join(df, df, k=1)
    assert out.count() == 4


# ---------------------------------------------------------------------------
# perplexity_score OOV contract (ADVICE r2: `oov_lp_q or 0` treated an
# explicit 0 as unset and silently scored unseen terms at probability 1)
# ---------------------------------------------------------------------------


def test_perplexity_external_model_requires_oov(spark):
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    model = spark.createDataFrame([("alpha", -1_000_000)], "term string, lp_q long")
    with pytest.raises(ValueError, match="oov_lp_q"):
        textstats.perplexity_score(docs, model=model)


def test_perplexity_external_model_applies_oov_slot(spark):
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    model = spark.createDataFrame([("alpha", -1_000_000)], "term string, lp_q long")
    row = textstats.perplexity_score(docs, model=model, oov_lp_q=-5_000_000).collect()[0]
    # alpha: -1.0 nats, beta (OOV): -5.0 nats → nll_q = 6_000_000
    assert row["n_tokens"] == 2
    assert row["nll_q"] == 6_000_000
    # an EXPLICIT zero slot must be honored, not treated as unset
    row0 = textstats.perplexity_score(docs, model=model, oov_lp_q=0).collect()[0]
    assert row0["nll_q"] == 1_000_000


# ---------------------------------------------------------------------------
# Seed selection on non-contiguous id spaces (ADVICE r2: `id < k` yields
# fewer/zero seeds when ids are sparse or offset)
# ---------------------------------------------------------------------------


def test_cluster_assign_offset_ids_get_full_seed_set(spark):
    rows = [(1000 + 17 * i, [float(i % 3), float((i + 1) % 3), 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cluster_assign(df, k=3).collect()
    assert len(out) == 12
    assert all(r["cluster"] >= 0 for r in out)  # nobody falls into cid -1
    # seeds are the 3 LOWEST ids, so cluster ids are real vector ids
    assert {r["cluster"] for r in out} <= {1000, 1017, 1034}


def test_seeded_ivf_offset_ids_build_all_lists(spark):
    from connapse_spark.plans.ivf import build_ivf_index_seeded

    rows = [(5000 + i * 7, [float(i % 4), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index, centroids = build_ivf_index_seeded(df, n_lists=4)
    assert centroids.count() == 4
    assert index.filter(F.col("list_id") < 0).count() == 0


# ---------------------------------------------------------------------------
# semdedup cluster-count policy
# ---------------------------------------------------------------------------


def test_semdedup_n_clusters_bounds_cluster_population():
    for n in [10, 1_000, 100_000, 10_000_000, 5_000_000_000]:
        k = similarity.semdedup_n_clusters(n)
        assert 1 <= k <= 65_536
        if k < 65_536:  # below the broadcast cap the population is bounded
            assert n / k <= 2 * 1024, (n, k)
    # monotone non-decreasing in corpus size
    ks = [similarity.semdedup_n_clusters(n) for n in [1, 10**3, 10**6, 10**9]]
    assert ks == sorted(ks)


# ---------------------------------------------------------------------------
# hybrid_search_onepass: fully lazy single lineage
# ---------------------------------------------------------------------------


def _onepass_df(spark, sf_dir, **opts):
    from connapse_spark.operators.search import SearchOptions, hybrid_search_onepass

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vecs = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select(F.col("vec_id").alias("doc_id"), "embedding")
    )
    corpus = docs.join(vecs, "doc_id")
    return hybrid_search_onepass(
        corpus, "table scan fast merge", SearchOptions(top_k=10, **opts)
    )


def test_onepass_builds_without_running_jobs(spark, sf_dir):
    """Plan-only consumers (contract test, .explain) must not trigger a
    corpus scan: constructing the query may run ZERO Spark jobs."""
    from connapse_spark.operators.search import SearchOptions, hybrid_search_onepass

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vecs = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select(F.col("vec_id").alias("doc_id"), "embedding")
    )
    corpus = docs.join(vecs, "doc_id")  # parquet footer jobs happen up here
    sc = spark.sparkContext
    sc.setJobGroup("onepass-build-probe", "plan only")
    try:
        df = hybrid_search_onepass(
            corpus, "table scan fast merge", SearchOptions(top_k=10)
        )
        _ = df.schema  # analysis only
        _ = df._jdf.queryExecution().executedPlan().toString()
        ids = sc.statusTracker().getJobIdsForGroup("onepass-build-probe")
        assert list(ids) == []
    finally:
        sc.setJobGroup("", "")


def test_onepass_single_corpus_scan_no_cache(spark, sf_dir):
    df = _onepass_df(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert plan.count("documents.parquet") == 1
    assert plan.count("embeddings.parquet") == 1


def test_onepass_matches_two_branch_hybrid(spark, sf_dir):
    """On the 1:1 doc↔vector corpus the single-scan plan must reproduce the
    two-branch pipeline exactly, for every fusion mode."""
    from connapse_spark.operators.search import SearchOptions, hybrid_search

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vecs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    for kw in [
        {},
        {"fusion": "Dbsf"},
        {"fusion": "Rrf"},
        {"mode": "Semantic"},
        {"mode": "Keyword"},
        {"min_score": 0.3},
        {"auto_cut": True},
    ]:
        two = hybrid_search(
            docs,
            "table scan fast merge",
            SearchOptions(top_k=10, **kw),
            vectors=vecs,
        ).collect()
        one = _onepass_df(spark, sf_dir, **kw).collect()
        assert [tuple(r) for r in one] == [tuple(r) for r in two], kw


# ---------------------------------------------------------------------------
# Optional-library slots (VERDICT r2 ask #7): exercised automatically the
# day the libs land in the container; skipped (not silently dead) until then.
# ---------------------------------------------------------------------------


def test_tiktoken_slot_when_available():
    tiktoken = pytest.importorskip("tiktoken")
    from connapse_spark.operators import chunkers

    enc = tiktoken.get_encoding("cl100k_base")
    s = "Hello, world! Spark counts 100 tokens."
    assert chunkers.count_tokens_bpe(s) == len(enc.encode(s))
    assert chunkers.count_tokens_bpe is not chunkers.count_tokens


def test_tiktoken_slot_fallback_when_absent():
    try:
        import tiktoken  # noqa: F401

        pytest.skip("tiktoken present; fallback path not active")
    except ImportError:
        pass
    from connapse_spark.operators import chunkers

    # absent → the slot must alias the pinned BPE-ish regex counter
    assert chunkers.count_tokens_bpe is chunkers.count_tokens
    assert chunkers.count_tokens_bpe("a b c") == 3


def test_websearch_negated_phrase_matches_empty_doc(spark):
    """Spark↔oracle divergence found by the websearch fuzz: an empty doc
    must satisfy a purely-negative query on BOTH engines (DuckDB's
    array_to_string([]) is NULL and needed a coalesce in the mirror)."""
    import duckdb
    import pandas as pd

    from connapse_spark.operators.search import (
        keyword_search_websearch,
        sql_keyword_websearch,
    )

    rows = [(0, "table scan"), (1, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        r["doc_id"]
        for r in keyword_search_websearch(docs, '-"table scan"', k=10).collect()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = sorted(
        r[0] for r in con.execute(sql_keyword_websearch('-"table scan"', k=10)).fetchall()
    )
    assert got == oracle == [1]


# ---------------------------------------------------------------------------
# Temporal operators (as-of join / range join / rollup)
# ---------------------------------------------------------------------------


def test_asof_join_semantics(spark):
    from connapse_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 50, "c"), (3, 10, "d")],
        "key long, t long, name string",
    )
    right = spark.createDataFrame(
        [(1, 100, 11), (1, 150, 12), (2, 60, 21)], "key long, t long, val long"
    )
    out = {
        r["name"]: (r["_asof_val"], r["_asof_ts"])
        for r in asof_join(left, right, "key", "t", "t", "val").collect()
    }
    assert out["a"] == (11, 100)   # inclusive: right row AT left ts matches
    assert out["b"] == (12, 150)   # latest preceding, not first
    assert out["c"] == (None, None)  # right row is LATER → no match
    assert out["d"] == (None, None)  # key with no right rows at all


def test_asof_join_single_shuffle(spark):
    from connapse_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 100, "a")], "key long, t long, name string")
    right = spark.createDataFrame([(1, 50, 9)], "key long, t long, val long")
    plan = (
        asof_join(left, right, "key", "t", "t", "val")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # union trick: no join operator at all, exactly one key exchange
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_events_rollup_totals_consistent(spark, sf_dir):
    from connapse_spark.operators import events
    from connapse_spark.operators.temporal import events_rollup

    rows = events_rollup(events.load_events(spark, sf_dir)).collect()
    grand = [r for r in rows if r["bucket"] == "ALL" and r["event_type"] == "ALL"]
    leaves = [r for r in rows if r["bucket"] != "ALL" and r["event_type"] != "ALL"]
    day_totals = [r for r in rows if r["bucket"] != "ALL" and r["event_type"] == "ALL"]
    assert len(grand) == 1
    assert grand[0]["n_events"] == sum(r["n_events"] for r in leaves)
    assert grand[0]["value_cents"] == sum(r["value_cents"] for r in day_totals)


def test_repeat_orders_window_counts(spark):
    from connapse_spark.operators.temporal import repeat_orders_window

    day = 86_400 * 1_000_000
    import datetime

    def ts(d):
        return datetime.datetime(2024, 1, d)

    orders = spark.createDataFrame(
        [(1, 10, ts(1), 1.0), (2, 10, ts(15), 2.0), (3, 10, ts(28), 4.0),
         (4, 20, ts(5), 8.0)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz, o_totalprice double",
    )
    got = {r["o_orderkey"]: (r["n_prior"], r["prior_cents"])
           for r in repeat_orders_window(orders, window_us=30 * day).collect()}
    assert got[1] == (0, 0)
    assert got[2] == (1, 100)      # order 1 is 14 days prior
    assert got[3] == (2, 300)      # orders 1+2 within 27 days
    assert got[4] == (0, 0)


# ---------------------------------------------------------------------------
# BPE merge candidates (textstats.bpe_merge_candidates)
# ---------------------------------------------------------------------------


def test_bpe_merge_candidates_classic_example(spark):
    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest newest")], ["doc_id", "text"]
    )
    rows = textstats.bpe_merge_candidates(docs, k=50).collect()
    w = {(r["lhs"], r["rhs"]): r["weight"] for r in rows}
    # 'low'x2 + 'lower'x1 → l·o and o·w appear 3 times; 'newest'x2 → e·s twice
    assert w[("l", "o")] == 3
    assert w[("o", "w")] == 3
    assert w[("w", "</w>")] == 2  # only the two bare 'low'
    assert w[("e", "s")] == 2
    assert w[("t", "</w>")] == 2
    # ordering: ties break (weight DESC, lhs, rhs)
    assert (rows[0]["lhs"], rows[0]["rhs"]) == ("l", "o")
    assert (rows[1]["lhs"], rows[1]["rhs"]) == ("o", "w")


def test_bpe_pair_agg_runs_on_vocab_not_corpus(spark):
    """The pair aggregate's input must be the word-frequency table (one
    corpus shuffle), not re-derived from documents: exactly 2 hash
    exchanges total (word count, pair sum) before the final top-k."""
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("alpha beta gamma").alias("text")
    )
    plan = (
        textstats.bpe_merge_candidates(docs, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan


# ---------------------------------------------------------------------------
# Composed curation pipeline (operators/curate.py)
# ---------------------------------------------------------------------------


def test_curate_reason_precedence(spark):
    from connapse_spark.operators import curate, dedup

    good = (
        "the quick brown fox jumps over the lazy dog and then walks back "
        "home with a friend because they were quite tired after the long day "
        "so they rested under a tall green tree near the old stone bridge "
        "while the evening sun was slowly setting over the quiet valley"
    )
    docs = spark.createDataFrame(
        [
            (1, good),                      # kept
            (2, good),                      # exact duplicate of 1
            (3, good + " extra tail"),      # near-dup of 1 (high shingle overlap)
            (4, "zz qq xx " * 20),          # low quality (no stopwords)
        ],
        ["doc_id", "text"],
    )
    blocklist = docs.filter(F.col("doc_id") == 4).select(
        F.explode(dedup.shingles_expr("text", 3)).alias("s")
    )
    out = {r["id"]: r for r in curate.curate(docs, blocklist, neardup_threshold=0.3).collect()}
    assert out[1]["reason"] == "kept" and out[1]["kept"]
    assert out[2]["reason"] == "exact_duplicate" and not out[2]["kept"]
    assert out[3]["reason"] == "near_duplicate"
    # doc 4 is BOTH contaminated (it is the blocklist source) and low
    # quality — contamination precedes quality in the verdict order
    assert out[4]["reason"] == "contaminated"


# ---------------------------------------------------------------------------
# Z-order clustering (plans/zorder.py)
# ---------------------------------------------------------------------------


def test_zorder_key_bit_interleave_exact(spark):
    from connapse_spark.plans import zorder

    # a=0b101 (5), b=0b011 (3), 3 bits → bits of a at even positions,
    # b at odd: z = a0<<0 | b0<<1 | a1<<2 | b1<<3 | a2<<4 | b2<<5
    #          = 1 + 2 + 0 + 8 + 16 + 0 = 27
    df = spark.createDataFrame([(5, 3)], ["a", "b"])
    z = df.select(
        zorder.zorder_key_expr([F.col("a"), F.col("b")], bits=3).alias("z")
    ).collect()[0]["z"]
    assert z == 27


def test_zorder_key_rejects_overflow(spark):
    from connapse_spark.plans import zorder

    with pytest.raises(ValueError):
        zorder.zorder_key_expr([F.col("a"), F.col("b")], bits=32)


def test_write_zordered_rejects_key_wider_than_53_bits(spark, tmp_path):
    from connapse_spark.plans import zorder

    df = spark.createDataFrame([(1, 2)], ["a", "b"])
    with pytest.raises(ValueError, match="53 bits"):
        zorder.write_zordered(df, str(tmp_path / "z"), ["a", "b"], bits=27)
    assert not (tmp_path / "z").exists()


def test_write_zordered_narrows_both_dimensions(spark, sf_dir, tmp_path):
    """After z-order clustering, each FILE's min/max envelope must be
    narrow on BOTH key columns — the property parquet row-group skipping
    prunes on. Compare against a single-column sort, where the second
    column's per-file envelope stays ~the global range."""
    import os

    from connapse_spark.plans import zorder

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    n_files = 8
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    zorder.write_zordered(orders, zpath, ["o_custkey", "o_orderkey"], bits=14, n_files=n_files)
    (
        orders.repartitionByRange(n_files, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(spath)
    )

    def mean_spread(path, col):
        spreads = []
        glob_min, glob_max = None, None
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            pdf = spark.read.parquet(os.path.join(path, f))
            r = pdf.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
            spreads.append(r["hi"] - r["lo"])
            glob_min = r["lo"] if glob_min is None else min(glob_min, r["lo"])
            glob_max = r["hi"] if glob_max is None else max(glob_max, r["hi"])
        return sum(spreads) / len(spreads), (glob_max - glob_min)

    z_spread_b, rng_b = mean_spread(zpath, "o_orderkey")
    s_spread_b, _ = mean_spread(spath, "o_orderkey")
    # single-column sort leaves o_orderkey unclustered (per-file spread ≈
    # global range); z-order must cut it substantially
    assert s_spread_b > 0.9 * rng_b
    assert z_spread_b < 0.6 * rng_b, (z_spread_b, rng_b)
    # and o_custkey stays clustered too (better than half the range)
    z_spread_a, rng_a = mean_spread(zpath, "o_custkey")
    assert z_spread_a < 0.6 * rng_a, (z_spread_a, rng_a)


def test_write_zordered_payload_executes_once(spark, tmp_path):
    """r12 (VERDICT r11 ask #3): the clustered write must execute the
    payload plan exactly ONCE. repartitionByRange samples boundaries by
    executing its child — with a payload-bearing child that doubles every
    payload read/compute at scale. The rewrite derives boundaries from
    key-only column-pruned passes, so a payload column produced by a UDF
    is evaluated once per row: an accumulator inside the UDF is the proof
    (column pruning drops the UDF from the two key-only passes; the one
    hash shuffle evaluates it once)."""
    from pyspark.sql.types import StringType

    from connapse_spark.plans import zorder

    acc = spark.sparkContext.accumulator(0)

    def payload(a):
        acc.add(1)
        return f"payload-{a}"

    pay_udf = F.udf(payload, StringType())
    n = 400
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 20).alias("a"),
            (F.col("id") * 7 % 20).alias("b"),
            pay_udf(F.col("id")).alias("payload"),
        )
    )
    zorder.write_zordered(df, str(tmp_path / "z1x"), ["a", "b"], bits=8, n_files=4)
    assert acc.value == n, f"payload UDF ran {acc.value}x for {n} rows"
    # and the written data round-trips intact
    back = spark.read.parquet(str(tmp_path / "z1x"))
    assert back.count() == n
    assert back.select(F.count_distinct("payload")).collect()[0][0] == n


def test_zorder_key_matches_python_reference_bulk(spark):
    """500 seeded random pairs through ONE Spark job vs a pure-Python
    Morton interleave — pins the expression bit-for-bit."""
    import random

    from connapse_spark.plans import zorder

    rng = random.Random(7)
    bits = 12
    rows = [(rng.randrange(1 << 14), rng.randrange(1 << 14)) for _ in range(500)]

    def ref(a, b):
        a &= (1 << bits) - 1
        b &= (1 << bits) - 1
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(rows, "a long, b long")
    got = (
        df.select("a", "b", zorder.zorder_key_expr([F.col("a"), F.col("b")], bits=bits).alias("z"))
        .collect()
    )
    for r in got:
        assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"])


def test_bloom_positions_match_python_reference_bulk(spark):
    """Bloom probe positions vs a pure-Python sha256 double-hash reference
    over 200 random token strings, one Spark job."""
    import hashlib
    import random

    from connapse_spark.operators import dedup

    rng = random.Random(11)
    words = ["".join(rng.choice("abcdefgh") for _ in range(rng.randrange(1, 12))) for _ in range(200)]
    m_bits, j = 4096, 5

    def ref_positions(s):
        hx = hashlib.sha256(s.encode()).hexdigest()
        h1 = int(hx[:8], 16)
        h2 = int(hx[:15], 16) % dedup.HASH_MOD
        return [(h1 + i * (2 * h2 + 1)) % m_bits for i in range(j)]

    df = spark.createDataFrame([(w,) for w in words], "s string")
    h1c, h2c = dedup._bloom_hashes(F.col("s"))
    got = df.select(
        "s",
        dedup._bloom_positions(h1c, h2c, j, m_bits).alias("ps"),
    ).collect()
    for r in got:
        assert list(r["ps"]) == ref_positions(r["s"]), r["s"]


def test_quality_stratified_sample_invariants(spark, sf_dir):
    from connapse_spark.operators import sampling

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(300)
    out = sampling.quality_stratified_sample(docs, keep_fraction=0.5).collect()
    assert len(out) == 300
    import math
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["source"], []).append(r)
    for grp, rows in by_grp.items():
        n = len(rows)
        kept = [r for r in rows if r["kept"]]
        assert len(kept) == math.ceil(0.5 * n), grp
        # kept set == top-ranked prefix, and ranks order by logit desc
        assert {r["grp_rank"] for r in kept} == set(range(1, len(kept) + 1))
        ordered = sorted(rows, key=lambda r: r["grp_rank"])
        logits = [r["quality_logit"] for r in ordered]
        assert logits == sorted(logits, reverse=True), grp


def test_pq_recall_bounds_and_determinism(spark, sf_dir):
    from connapse_spark.functions.vector import to_double_array
    from connapse_spark.plans import pq

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") == 0).select(
        to_double_array(F.col("embedding")).alias("_qv")
    )
    r1 = pq.pq_recall(emb, q, k=10).collect()[0]
    r2 = pq.pq_recall(emb, q, k=10).collect()[0]
    assert r1 == r2
    assert 0.0 <= r1["recall_at_k"] <= 1.0
    # vec 0 quantizes to itself in every subspace (it IS seed 0), so the
    # query's own row must be in both top-k sets → recall > 0
    assert r1["n_overlap"] >= 1


# ---------------------------------------------------------------------------
# Content-defined chunking (dedup.cdc_chunks)
# ---------------------------------------------------------------------------


def test_cdc_chunks_insertion_stable(spark):
    """THE property CDC buys: an insertion near the start shifts only the
    chunks it touches; later boundaries re-align and chunk hashes are
    shared again. Fixed-size windows lose every downstream chunk."""
    from connapse_spark.operators import dedup

    base = (
        "the quick brown fox jumps over the lazy dog while a calm river "
        "flows past the old mill and children play in the warm afternoon "
        "sun near the stone bridge as birds sing softly in the tall green "
        "trees and the baker carries fresh bread through the narrow street "
        "toward the busy market square where traders call out their wares"
    )
    edited = "BREAKING UPDATE: " + base
    docs = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    out = dedup.cdc_chunks(docs, min_len=16, avg_mod=32, max_len=96).collect()
    h1 = {r["chunk_sha"] for r in out if r["id"] == 1}
    h2 = {r["chunk_sha"] for r in out if r["id"] == 2}
    shared = h1 & h2
    assert len(shared) >= max(1, len(h1) // 2), (len(shared), len(h1))
    # fixed-size windows at the same granularity share NOTHING after an
    # insertion that isn't a multiple of the window
    import hashlib

    def fixed(s, w=64):
        return {hashlib.sha256(s[i:i+w].encode()).hexdigest() for i in range(0, len(s), w)}

    assert not (fixed(base) & fixed(edited))


def test_cdc_chunks_tile_exactly(spark):
    """Chunks tile each document: starts/lengths reassemble the text."""
    from connapse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"document number {i} " * (5 + i)) for i in range(5)],
        ["doc_id", "text"],
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = dedup.cdc_chunks(docs, min_len=8, avg_mod=16, max_len=48).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r["id"], r["chunk_idx"])):
        by_doc.setdefault(r["id"], []).append(r)
    for did, chunks in by_doc.items():
        assert chunks[0]["start"] == 0
        for a, b in zip(chunks, chunks[1:]):
            assert a["start"] + a["length"] == b["start"]
        assert chunks[-1]["start"] + chunks[-1]["length"] == len(texts[did])
        for c in chunks:
            assert c["length"] <= 48


def test_cdc_chunks_match_python_reference_bulk(spark):
    """Seeded random ASCII strings through ONE Spark job vs the pure-Python
    CDC state machine — pins fold semantics bit-for-bit."""
    import random

    from connapse_spark.operators import dedup

    rng = random.Random(23)
    alphabet = "abcdefghij klmnop qrstuv wxyz.,!"
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 300))))
        for i in range(60)
    ]
    gear = dedup._cdc_gear()
    W, MIN, AVG, MAX = 1 << 32, 16, 32, 96
    thresh = W // AVG

    def ref_bounds(s):
        h = cur = 0
        b = []
        for pos, ch in enumerate(s, 1):
            h = (h * 2 + gear[ord(ch) % 256]) % W
            cur += 1
            if (cur >= MIN and h < thresh) or cur >= MAX:
                b.append(pos)
                h = cur = 0
        return b

    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = dedup.cdc_chunks(df, min_len=MIN, avg_mod=AVG, max_len=MAX).collect()
    got = {}
    for r in rows:
        got.setdefault(r["id"], []).append((r["start"], r["length"]))
    for did, text in docs:
        b = ref_bounds(text)
        starts = [0] + b
        ends = b + [len(text)]
        want = [(s, e - s) for s, e in zip(starts, ends) if s < e]
        assert got.get(did, []) == want, did


def test_cms_never_underestimates_and_is_tight_for_heavy_hitters(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(200)
    rows = textstats.cms_heavy_hitters(docs, k=20, d=4, w=2048).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_n"] >= r["exact_n"], r["token"]
    # with w=2048 ≫ heavy-hitter collisions, estimates should be near-exact
    # for the top tokens (ε·N slack): allow 5% relative overshoot
    for r in rows[:5]:
        assert r["cms_n"] <= r["exact_n"] * 1.05 + 50, r


def test_distinct_sketch_accuracy(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rows = textstats.distinct_sketch_by(docs, m_bits=8192).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 < r["occupied_bits"] <= 8192
        # linear counting at load < 0.5 is within a few % of exact
        rel = abs(r["estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 0.1, (r["source"], r["estimate"], r["exact_distinct"])


def test_cdc_fast_tier_bit_equal_to_column_tier(spark, sf_dir):
    from connapse_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(100)
    col_rows = sorted(
        (r["id"], r["chunk_idx"], r["start"], r["length"], r["chunk_sha"])
        for r in dedup.cdc_chunks(docs).collect()
    )
    fast_rows = sorted(
        (r["id"], r["chunk_idx"], r["start"], r["length"], r["chunk_sha"])
        for r in dedup.cdc_chunks_fast(docs).collect()
    )
    assert col_rows == fast_rows and len(col_rows) > 0


def test_funnel_ordered_semantics(spark):
    """A purchase BEFORE the user's first view must not count; steps chain
    on strictly-increasing timestamps."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: full ordered funnel
        (1, t0, 1, "view", 0.0, "{}"),
        (2, t0 + timedelta(minutes=1), 1, "click", 0.0, "{}"),
        (3, t0 + timedelta(minutes=2), 1, "purchase", 0.0, "{}"),
        # user 2: purchase BEFORE view — view counts, purchase must not
        (4, t0, 2, "purchase", 0.0, "{}"),
        (5, t0 + timedelta(minutes=1), 2, "view", 0.0, "{}"),
        (6, t0 + timedelta(minutes=2), 2, "click", 0.0, "{}"),
        # user 3: view only
        (7, t0, 3, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r["step"]: r for r in events.funnel_analysis(df).collect()}
    assert out["view"]["n_users"] == 3
    assert out["click"]["n_users"] == 2
    assert out["purchase"]["n_users"] == 1  # only user 1
    assert out["purchase"]["conv_from_prev"] == 0.5
    assert out["purchase"]["conv_from_first"] == round(1 / 3, 6)


def test_props_extract_permissive_on_malformed_json(spark):
    """Malformed payloads must yield NULL (counted out), never fail the
    job — the PERMISSIVE contract a large ingest needs."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1), 1, "click", 0.0, '{"k": 7}'),
        (2, datetime(2024, 1, 1), 2, "click", 0.0, "not json"),
        (3, datetime(2024, 1, 1), 3, "click", 0.0, '{"other": 1}'),
        (4, datetime(2024, 1, 1), 4, "click", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = events.props_extract_agg(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_with_k"] == 1 and r["k_sum"] == 7


def test_embedding_hygiene_flags_planted_defects(spark):
    from connapse_spark.operators import similarity

    rows = [(i, [0.1 * ((i + j) % 7) for j in range(8)]) for i in range(50)]
    rows.append((100, [0.0] * 8))                 # zero vector
    rows.append((101, [100.0] * 8))               # norm outlier
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r for r in similarity.embedding_hygiene(df).collect()}
    assert out[100]["is_zero"] and out[100]["norm_mu"] == 0
    assert out[101]["is_outlier"]
    normal_flags = [out[i]["is_outlier"] for i in range(50)]
    assert sum(normal_flags) == 0


def test_funnel_matches_python_reference_bulk(spark):
    """200 random events, one Spark job vs a brute-force python funnel."""
    import random
    from datetime import datetime, timedelta

    rng = random.Random(31)
    t0 = datetime(2024, 1, 1)
    types = ["view", "click", "purchase", "error"]
    rows = [
        (i, t0 + timedelta(minutes=rng.randrange(10_000)), rng.randrange(30),
         rng.choice(types), 0.0, "{}")
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {r["step"]: r["n_users"] for r in events.funnel_analysis(df).collect()}

    by_user = {}
    for _, ts, uid, et, _, _ in rows:
        by_user.setdefault(uid, []).append((ts, et))
    steps = ("view", "click", "purchase")
    counts = []
    reach_prev = {}
    for si, s in enumerate(steps):
        reach = {}
        for uid, evs in by_user.items():
            if si and uid not in reach_prev:
                continue
            cand = [ts for ts, et in evs if et == s and (not si or ts > reach_prev[uid])]
            if cand:
                reach[uid] = min(cand)
        counts.append(len(reach))
        reach_prev = reach
    assert [got[s] for s in steps] == counts


def test_retention_matches_python_reference_bulk(spark):
    import random
    from datetime import datetime, timedelta

    rng = random.Random(37)
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(hours=rng.randrange(24 * 60)), rng.randrange(25),
         "view", 0.0, "{}")
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {
        (r["cohort_bucket"], r["bucket_offset"]): (r["n_active"], r["cohort_size"])
        for r in events.retention_cohorts(df).collect()
    }
    WEEK_US = 604_800_000_000
    ep = lambda ts: int(ts.timestamp() * 1_000_000)
    user_buckets = {}
    for _, ts, uid, _, _, _ in rows:
        user_buckets.setdefault(uid, set()).add(ep(ts) // WEEK_US)
    cohort = {u: min(bs) for u, bs in user_buckets.items()}
    sizes = {}
    for u, c in cohort.items():
        sizes[c] = sizes.get(c, 0) + 1
    expect = {}
    for u, bs in user_buckets.items():
        c = cohort[u]
        for b in bs:
            off = b - c
            if off <= 8:
                k = (c, off)
                expect[k] = expect.get(k, 0) + 1
    assert set(got) == set(expect)
    for k, n in expect.items():
        assert got[k] == (n, sizes[k[0]]), k


def test_text_operators_survive_adversarial_inputs(spark):
    """Empty strings, one giant token, unicode, nulls — the text family
    must classify, never crash."""
    from connapse_spark.operators import dedup, textstats

    rows = [
        (1, ""),
        (2, "x" * 5000),                      # one giant token
        (3, "héllo wörld ünïcode çafé " * 10),
        (4, None),
        (5, "  \n\t  "),
        (6, "a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").fillna({"text": ""})
    assert textstats.quality_stats(docs).count() == 6
    assert textstats.gopher_filter(docs).count() == 6
    assert textstats.quality_score_linear(docs).count() == 6
    assert dedup.exact_dedup(docs).count() == 6
    assert dedup.cdc_chunks_fast(docs).count() >= 4  # empty docs yield none
    bl = spark.createDataFrame([("x y z",)], "s string")
    assert dedup.bloom_contamination_check(docs, bl).count() == 6
    assert textstats.bpe_merge_candidates(docs, k=5).count() <= 5


def test_multimodal_real_ppm_decode_through_spark(spark):
    """The REAL codec tier: PPM payloads decode to true dims/luma/ahash in
    the mapInPandas stage; unknown magics still route to the stub."""
    import numpy as np

    from connapse_spark.operators import multimodal as mm

    arr = np.zeros((16, 24, 3), dtype=np.uint8)
    arr[:8, :, :] = 255  # top half white -> ahash split, luma 0.5-ish
    ppm = mm.encode_ppm(arr)
    rows = [
        (1, "image", bytearray(ppm), "image/x-ppm", 0, 0, 0),
        (2, "image", bytearray(b"\x89PNG fake compressed"), "image/png", 0, 0, 0),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in mm.extract_image_features(media).collect()}
    assert (out[1]["width"], out[1]["height"]) == (24, 16)
    assert abs(out[1]["mean_luma"] - 0.5) < 0.01
    assert out[1]["decode_error"] is None
    assert out[1]["phash"] == "ffffffff00000000"  # top rows bright
    assert out[2]["width"] > 0  # stub tier still classifies

    resized = {r["media_id"]: r for r in mm.resize_images(
        media.withColumn("width", F.lit(24)).withColumn("height", F.lit(16)),
        max_side=8,
    ).collect()}
    assert (resized[1]["width"], resized[1]["height"]) == (8, 5)
    dec, err = mm.decode_image_array(bytes(resized[1]["content"]))
    assert err is None and dec.shape == (5, 8, 3)


def test_multimodal_real_wav_decode_through_spark(spark):
    import math

    import numpy as np

    from connapse_spark.operators import multimodal as mm

    sr = 8000
    t = np.arange(sr)  # 1 second
    sine = 0.5 * np.sin(2 * math.pi * 440 * t / sr)
    wav = mm.encode_wav(sine, sr)
    rows = [
        (1, "audio", bytearray(wav), "audio/wav", 0, 0, 1000),
        (2, "audio", bytearray(b"not audio"), "audio/mp3", 0, 0, 0),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in mm.extract_audio_features(media).collect()}
    assert out[1]["decode_error"] is None
    assert out[1]["sample_rate"] == sr and out[1]["duration_ms"] == 1000
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert abs(out[1]["rms"] - 0.5 / math.sqrt(2)) < 0.01
    # 440 Hz crosses zero ~880x per second -> rate ~ 880/8000
    assert abs(out[1]["zero_cross_rate"] - 880 / sr) < 0.02
    assert out[2]["decode_error"] == "UnsupportedFormat"


def test_multimodal_real_y4m_frame_sampling(spark):
    from connapse_spark.operators import multimodal as mm

    w, h, fps = 4, 4, 2  # 24-byte frames, 2 fps
    fsz = w * h * 3 // 2
    frames = [bytes([i]) * fsz for i in range(6)]  # 3 seconds of video
    blob = b"YUV4MPEG2 W4 H4 F2:1 Ip A1:1 C420\n" + b"".join(
        b"FRAME\n" + f for f in frames
    )
    parsed, got_fps, err = mm.parse_y4m(blob)
    assert err is None and got_fps == 2.0 and len(parsed) == 6

    media = spark.createDataFrame(
        [(1, "video", bytearray(blob), "video/x-y4m", w, h, 3000)], mm.MEDIA_SCHEMA
    )
    out = sorted(
        mm.sample_frames(media, every_ms=1000, max_frames=8).collect(),
        key=lambda r: r["frame_index"],
    )
    # 3s at 1s sampling -> ts 0,1000,2000 -> true frames 0, 2, 4
    assert [r["ts_ms"] for r in out] == [0, 1000, 2000]
    assert [bytes(r["frame"])[0] for r in out] == [0, 2, 4]


def test_compaction_plan_and_execute(spark, sf_dir, tmp_path):
    from connapse_spark.sources import sinks

    src = str(tmp_path / "many")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.repartition(24).write.parquet(src)  # deliberately fragmented
    listing = sinks.list_data_files(spark, src)
    n_files = listing.count()
    assert n_files >= 24
    total = listing.agg(F.sum("size_bytes")).collect()[0][0]
    target = total // 3 + 1
    plan = sinks.compaction_plan(listing, target_bytes=target)
    rows = plan.collect()
    # groups tile the listing and respect the target except singletons
    assert sum(r["n_files"] for r in rows) == n_files
    assert 3 <= len(rows) <= 5
    out = str(tmp_path / "compacted")
    n_groups = sinks.compact(spark, src, out, target_bytes=target)
    compacted = sinks.list_data_files(spark, out)
    assert compacted.count() == n_groups
    assert spark.read.parquet(out).count() == orders.count()


def test_bpe_train_first_merge_anchored_to_oracle_op(spark, sf_dir):
    """bpe_train iteration 1 must equal bpe_merge_candidates' top row —
    the driver-loop trainer is anchored to the oracle-checked operator."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(200)
    top = textstats.bpe_merge_candidates(docs, k=1).collect()[0]
    merges = textstats.bpe_train(docs, n_merges=1)
    assert merges[0] == (top["lhs"], top["rhs"])


def test_bpe_apply_compresses_and_roundtrips(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(100)
    merges = textstats.bpe_train(docs, n_merges=40)
    enc0 = {r["id"]: r for r in textstats.bpe_apply(docs, []).collect()}
    enc = {r["id"]: r for r in textstats.bpe_apply(docs, merges).collect()}
    total0 = sum(r["n_bpe_tokens"] for r in enc0.values())
    total = sum(r["n_bpe_tokens"] for r in enc.values())
    assert total < total0  # merges compress
    # segmentation is lossless: removing separators and </w> restores the
    # concatenated word stream
    from connapse_spark.operators.textstats import tokens_exact_expr

    words = {
        r["doc_id"]: "".join(r["ws"])
        for r in docs.select(
            "doc_id", tokens_exact_expr(F.col("text")).alias("ws")
        ).collect()
    }
    for did, r in enc.items():
        joined = r["tokens"].replace(" ", "").replace("</w>", "")
        assert joined == words[did], did


def test_bpe_train_vocab_guard(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    with pytest.raises(ValueError, match="max_vocab_rows"):
        textstats.bpe_train(docs, n_merges=1, max_vocab_rows=3)


def test_retrieval_metrics_hand_computed(spark):
    import math

    from connapse_spark.operators import evaluation

    runs = spark.createDataFrame(
        [
            # q1: rel docs at ranks 1 and 3
            (1, 101, 1), (1, 102, 2), (1, 103, 3),
            # q2: first relevant at rank 2
            (2, 201, 1), (2, 202, 2),
            # q3: nothing relevant retrieved
            (3, 301, 1),
        ],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(1, 101, 2), (1, 103, 1), (2, 202, 1), (3, 999, 1)],
        "query_id long, doc_id long, rel long",
    )
    rows = {r["query_id"]: r for r in evaluation.retrieval_metrics(runs, qrels, k=10).collect()}
    q1 = rows[1]
    dcg1 = 2 / math.log2(2) + 1 / math.log2(4)
    idcg1 = 2 / math.log2(2) + 1 / math.log2(3)
    assert abs(q1["dcg"] - dcg1) < 1e-12
    assert abs(q1["ndcg"] - dcg1 / idcg1) < 1e-12
    assert q1["mrr"] == 1.0 and q1["recall_at_k"] == 1.0
    q2 = rows[2]
    assert q2["mrr"] == 0.5 and q2["hits_at_k"] == 1
    q3 = rows[3]
    assert q3["ndcg"] == 0.0 and q3["mrr"] == 0.0 and q3["recall_at_k"] == 0.0
    macro = rows[None]
    assert abs(macro["mrr"] - (1.0 + 0.5 + 0.0) / 3) < 1e-12


def test_fusion_methods_evaluated_on_corpus(spark):
    """The measurement the reference cites (fusion quality by nDCG/MRR):
    planted-unique-term corpus, one query per planted doc, relevant = the
    planted doc. With keyword-weighted fusion every query must resolve its
    own document at rank 1 — and the report is the structure a fusion
    tuning loop consumes."""
    from connapse_spark.operators import evaluation
    from connapse_spark.operators.search import SearchOptions, hybrid_search

    filler = "the quick brown fox jumps over the lazy dog near the river "
    docs = spark.createDataFrame(
        [(i, f"{filler} zzuniq{i}token appears here {filler}") for i in range(20)],
        ["doc_id", "text"],
    )
    run_rows, qrel_rows = [], []
    for i in range(5):
        hits = hybrid_search(
            docs,
            f"zzuniq{i}token river",
            SearchOptions(top_k=10, fusion_alpha=0.3),  # keyword-weighted
        ).collect()
        for rank, h in enumerate(hits, 1):
            run_rows.append((i, h["id"], rank))
        qrel_rows.append((i, i, 1))
    runs = spark.createDataFrame(run_rows, "query_id long, doc_id long, rank long")
    qrels = spark.createDataFrame(qrel_rows, "query_id long, doc_id long, rel long")
    macro = evaluation.retrieval_metrics(runs, qrels, k=10).filter(
        F.col("query_id").isNull()
    ).collect()[0]
    assert macro["mrr"] == 1.0
    assert macro["ndcg"] == 1.0
    assert macro["recall_at_k"] == 1.0


def test_incremental_neardup_matches_full_pass_on_cross_pairs(spark, sf_dir):
    """Batch-vs-index pairs must equal the cross-split subset of the full
    one-shot pair finder (same signatures, same banding, same estimate)."""
    from connapse_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(200)
    full = dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    expected = sorted(
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]), r["est_jaccard"])
        for r in full
        if (r["id_a"] % 5 == 0) != (r["id_b"] % 5 == 0)
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = dedup.minhash_banded(corpus)
    inc = dedup.incremental_neardup_pairs(batch, index, threshold=0.2).collect()
    got = sorted(
        (min(r["new_id"], r["old_id"]), max(r["new_id"], r["old_id"]), r["est_jaccard"])
        for r in inc
    )
    assert got == expected


def test_incremental_neardup_probe_never_rehashes_corpus(spark, sf_dir):
    """With the index pre-materialized, the probe plan must not contain the
    corpus-side sha/shingle pipeline — only the batch is hashed."""
    from connapse_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(100)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index_rows = dedup.minhash_banded(corpus).collect()  # "persisted"
    index = spark.createDataFrame(
        index_rows, "id long, sig array<bigint>, band int, key string"
    )
    plan = (
        dedup.incremental_neardup_pairs(batch, index, threshold=0.2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly ONE hashing pipeline (the batch side): 1 sha2 projection and
    # 2 Generates (shingle explode + banding); the one-shot two-sided
    # finder shows 2 sha2 / 4 Generate on the same data
    assert plan.count("sha2") == 1, plan
    assert plan.count("Generate") == 2, plan


def test_keyword_many_matches_single_query_results(spark, sf_dir):
    """Per query, the batched scorer must reproduce keyword_search
    row-for-row (same weights, same squash, same tie-break)."""
    from connapse_spark.operators.search import keyword_search, keyword_search_many

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    queries = [(1, "table scan fast merge"), (2, "parallel hash aggregation")]
    many = keyword_search_many(docs, queries, k=8).collect()
    for qid, qtext in queries:
        single = keyword_search(docs, qtext, k=8).collect()
        mine = [r for r in many if r["qid"] == qid]
        assert [(r["id"], r["score"]) for r in mine] == [
            (r["doc_id"], r["score"]) for r in single
        ], qid


def test_keyword_many_amortizes_scan(spark, sf_dir):
    """The batched plan must be INVARIANT in query count: 20 queries
    produce the same corpus-side plan (scans, explodes, aggregations) as
    1 query — only the tiny broadcast query tables grow. That plan
    invariance IS the amortization; wall-clock follows from it without a
    flaky timing assertion."""
    from connapse_spark.operators.search import keyword_search_many

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def shape(n_queries):
        queries = [(i, f"table scan merge sort hash number {i}") for i in range(n_queries)]
        plan = (
            keyword_search_many(docs, queries, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return {
            m: plan.count(m)
            for m in ("FileScan", "Generate", "HashAggregate", "Exchange hashpartitioning")
        }

    assert shape(1) == shape(20)


# ---------------------------------------------------------------------------
# image near-dup (r8): aHash + banded Hamming
# ---------------------------------------------------------------------------


def _image_neardup_fresh_hashes():
    from connapse_spark.operators import multimodal as mm

    out = []
    for mid, png in mm.fixture_near_dup_images():
        arr, err = mm.decode_image_array(png)
        assert err is None, (mid, err)
        v = int(mm._average_hash(arr), 16)
        out.append((mid, v - (1 << 64) if v >= 1 << 63 else v))
    return out


def test_image_neardup_oracle_constants():
    """Pinned signed-64 aHash values in __spark_entry__ must equal the pure
    decode+hash over the fixture (regeneration recipe: print these rows)."""
    import __spark_entry__ as entry

    assert _image_neardup_fresh_hashes() == entry._IMAGE_NEARDUP_PINNED


def test_image_neardup_pairs_planted(spark):
    """Each planted variant pairs with exactly its base at Hamming j+1;
    no unrelated base pair sneaks under the threshold."""
    from connapse_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        mm.fixture_near_dup_images(), "media_id long, content binary"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in mm.image_neardup_pairs(media, max_hamming=6).collect()
    }
    assert got == {(j, 100 + j): j + 1 for j in range(6)}


def test_hash_neardup_pairs_negative_hash_banding(spark):
    """Signed fingerprints (top bit set) band identically on Spark's
    logical and DuckDB's arithmetic shifts — the mask-after-shift
    contract — and the exact-distance verify agrees."""
    import duckdb

    from connapse_spark.operators import dedup

    rows = [("a", -81985529216486896), ("b", -81985529216486895), ("c", 12345)]
    df = spark.createDataFrame(rows, "doc_id string, h long")
    got = [
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hash_neardup_pairs(df, "h", bits=64, max_hamming=3).collect()
    ]
    vals = ", ".join(f"('{i}', CAST({v} AS BIGINT))" for i, v in rows)
    want = duckdb.sql(dedup.sql_hash_neardup_pairs(
        f"SELECT id, h FROM (VALUES {vals}) t(id, h)", bits=64, max_hamming=3
    )).fetchall()
    assert got == [tuple(r) for r in want] == [("a", "b", 1)]


def test_image_neardup_dct_oracle_constants():
    """Pinned DCT pHash values == pure decode+hash over the fixture."""
    import __spark_entry__ as entry
    from connapse_spark.operators import multimodal as mm

    fresh = []
    for mid, png in mm.fixture_near_dup_images():
        arr, err = mm.decode_image_array(png)
        assert err is None
        v = int(mm._perceptual_hash_dct(arr), 16)
        fresh.append((mid, v - (1 << 64) if v >= 1 << 63 else v))
    assert fresh == entry._IMAGE_NEARDUP_DCT_PINNED


def test_audio_neardup_oracle_constants():
    """Pinned energy-delta fingerprints == pure decode+hash over the
    fixture (the fingerprint is integer-exact, so this can never drift
    with numpy/BLAS versions)."""
    import __spark_entry__ as entry
    from connapse_spark.operators import multimodal as mm

    fresh = []
    for mid, wav in mm.fixture_near_dup_audio():
        mono, _sr, err = mm.decode_wav_array(wav)
        assert err is None
        v = int(mm.audio_fingerprint(mono), 16)
        fresh.append((mid, v - (1 << 64) if v >= 1 << 63 else v))
    assert fresh == entry._AUDIO_NEARDUP_PINNED


def test_audio_fingerprint_gain_invariant():
    """Global gain preserves every energy delta — the property that makes
    the fingerprint a NEAR-dup signal rather than an exact hash (a
    re-mastered louder/quieter copy of a clip still pairs)."""
    import numpy as np

    from connapse_spark.operators import multimodal as mm

    wav = dict(mm.fixture_near_dup_audio())[0]
    mono, sr, _ = mm.decode_wav_array(wav)
    h = mm.audio_fingerprint(mono)
    assert mm.audio_fingerprint(np.asarray(mono) * 0.5) == h
    requantized, _, _ = mm.decode_wav_array(mm.encode_wav(np.asarray(mono) * 0.5, sr))
    assert mm.audio_fingerprint(requantized) == h


def test_audio_neardup_pairs_planted(spark):
    from connapse_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        mm.fixture_near_dup_audio(), "media_id long, content binary"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in mm.audio_neardup_pairs(media, max_hamming=6).collect()
    }
    assert set(got) == {(j, 100 + j) for j in range(5)}
    assert all(1 <= d <= 6 for d in got.values())


def test_audio_neardup_silence_never_pairs(spark):
    """ADVICE r8: every flat-envelope clip (digital silence, constant
    tones) fingerprints to the constant 0x0 — two unrelated silent clips
    must NOT false-pair at Hamming 0, while real planted pairs still do."""
    import numpy as np

    from connapse_spark.operators import multimodal as mm

    silence_a = mm.encode_wav(np.zeros(65 * 64), 8000)
    tone = mm.encode_wav(np.full(65 * 64, 0.5), 8000)  # constant amplitude
    fx = mm.fixture_near_dup_audio()[:9]  # bases 0..7 + variant 100 (pairs 0)
    media = spark.createDataFrame(
        fx + [(900, silence_a), (901, tone)], "media_id long, content binary"
    )
    # sanity: both degenerate clips decode fine and hash to all-zero
    fps = {r.media_id: r.afp for r in mm.audio_fingerprints(media).collect()}
    assert fps[900] == "0" * 16 and fps[901] == "0" * 16
    got = {(r.id_a, r.id_b) for r in mm.audio_neardup_pairs(media, max_hamming=6).collect()}
    assert got == {(0, 100)}  # planted pair survives; silence tier never pairs


def test_image_neardup_stub_rows_never_band(spark):
    """Unknown-magic payloads get stub (fake) hashes for classification
    but must NOT enter the perceptual pair join (r8 review finding)."""
    from connapse_spark.operators import multimodal as mm

    fx = mm.fixture_near_dup_images()[:2]
    media = spark.createDataFrame(
        fx + [(900, b"\x00unknownmagic"), (901, b"\x00unknownmagic")],
        "media_id long, content binary",
    )
    pairs = mm.image_neardup_pairs(media, max_hamming=64 - 1).collect()
    ids = {i for r in pairs for i in (r.id_a, r.id_b)}
    assert 900 not in ids and 901 not in ids  # identical stub rows would pair


def test_temperature_mix_flattens_head_group(spark, sf_dir):
    """alpha<1 lowers the head group's share and raises the tail's,
    and the kept set is a pure function of the rows (repartition-stable)."""
    from connapse_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    mixed = temperature_mix(docs, "lang", "doc_id", alpha=0.3, budget_frac=0.5)
    kept = {r["lang"]: r["n"] for r in mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    head = max(total, key=total.get)
    tail = min(total, key=total.get)
    share = lambda d, g: d[g] / sum(d.values())
    assert share(kept, head) < share(total, head)
    assert share(kept, tail) > share(total, tail)
    # repartition-stable: same kept doc_ids at any parallelism
    a = {r["doc_id"] for r in mixed.select("doc_id").collect()}
    b = {r["doc_id"] for r in temperature_mix(
        docs.repartition(17), "lang", "doc_id", alpha=0.3, budget_frac=0.5
    ).select("doc_id").collect()}
    assert a == b


def test_video_neardup_oracle_constants():
    """Pinned Y-plane frame hashes == pure decode+hash over the fixture."""
    import numpy as np

    import __spark_entry__ as entry
    from connapse_spark.operators import multimodal as mm

    fresh = []
    for mid, blob in mm.fixture_near_dup_videos():
        frames, fps, w, h, err = mm.parse_y4m_full(blob)
        assert err is None and fps == 1.0
        for i in range(len(frames)):
            y = np.frombuffer(frames[i][: w * h], np.uint8).astype(np.float64).reshape(h, w)
            v = int(mm._gray_ahash(y), 16)
            fresh.append((mid, i, v - (1 << 64) if v >= 1 << 63 else v))
    assert fresh == entry._VIDEO_NEARDUP_PINNED


def test_video_neardup_pairs_planted(spark):
    """Variants replacing j+1 of 6 frames pair with their base on exactly
    5-j matching positions; no unrelated clip pair reaches 2."""
    from connapse_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        mm.fixture_near_dup_videos(), "media_id long, content binary"
    )
    got = {
        (r.id_a, r.id_b): r.n_matching
        for r in mm.video_neardup_pairs(media, max_hamming=6, min_matching_frames=2).collect()
    }
    assert got == {(0, 100): 5, (1, 101): 4, (2, 102): 3, (3, 103): 3}


def test_hash_neardup_match_cols_aligns_positions(spark):
    """match_cols gates candidate pairs to aligned keys: identical hashes
    at DIFFERENT frame positions must not pair."""
    from connapse_spark.operators import dedup

    rows = [("a", 0, 7), ("b", 1, 7), ("c", 0, 7)]
    df = spark.createDataFrame(rows, "doc_id string, frame_index int, h long")
    got = [
        (r.id_a, r.id_b, r.frame_index)
        for r in dedup.hash_neardup_pairs(
            df, "h", bits=64, max_hamming=0, match_cols=["frame_index"]
        ).collect()
    ]
    assert got == [("a", "c", 0)]


def test_y4m_truncated_and_degenerate_streams_degrade():
    """Short final frames drop as good-prefix; zero/missing dims are a
    labeled parse error, never decode_error-NULL empty frames (r8
    review: both previously crashed or constant-hashed downstream)."""
    from connapse_spark.operators import multimodal as mm

    _mid, blob = mm.fixture_near_dup_videos()[0]
    frames, fps, w, h, err = mm.parse_y4m_full(blob)
    cut = mm.parse_y4m_full(blob[: len(blob) - (w * h * 3 // 2) // 2])
    assert cut[4] is None and len(cut[0]) == len(frames) - 1
    assert all(len(f) == w * h * 3 // 2 for f in cut[0])
    bad = mm.parse_y4m_full(b"YUV4MPEG2 F1:1\nFRAME\n")
    assert bad[0] is None and bad[4] == "Y4mParseError:BadDimensions"


def test_video_frame_hashes_tolerates_truncation(spark):
    from connapse_spark.operators import multimodal as mm

    mid, blob = mm.fixture_near_dup_videos()[0]
    media = spark.createDataFrame(
        [(1, blob), (2, blob[: len(blob) // 2]), (3, b"YUV4MPEG2 F1:1\nFRAME\n")],
        "media_id long, content binary",
    )
    rows = mm.video_frame_hashes(media).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id[1]) == 6 and all(r.decode_error is None for r in by_id[1])
    assert all(r.decode_error is None for r in by_id[2])  # good prefix
    assert 0 < len(by_id[2]) < 6
    assert len(by_id[3]) == 1 and by_id[3][0].decode_error is not None


def test_tiny_images_hash_content_not_nan():
    """Sub-grid images pixel-repeat up to the block grid: two DIFFERENT
    tiny images must not share the NaN-constant hash (r8 review)."""
    import numpy as np

    from connapse_spark.operators import multimodal as mm

    a = np.zeros((4, 4, 3), np.uint8)
    a[:2, :, :] = 255
    b = np.zeros((4, 4, 3), np.uint8)
    b[:, :2, :] = 255
    ha, hb = mm._average_hash(a), mm._average_hash(b)
    assert ha != hb and ha != "0" * 16 and hb != "0" * 16
    pa, pb = mm._perceptual_hash_dct(a), mm._perceptual_hash_dct(b)
    assert pa != pb and pa != "0" * 16 and pb != "0" * 16


def test_audio_fingerprint_exact_for_three_channels():
    """≥3-channel means are not 2^-16 multiples; the fingerprint's
    re-quantization keeps it a pure function of the PCM bytes."""
    import io
    import wave

    import numpy as np

    from connapse_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    raw = (rng.uniform(-0.5, 0.5, size=(4160, 3)) * 32767).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(3)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(raw.tobytes())
    mono, _sr, err = mm.decode_wav_array(buf.getvalue())
    assert err is None
    h = mm.audio_fingerprint(mono)
    # permuting the summation (reversed view) must not change the hash:
    # energies are integer sums after re-quantization
    assert mm.audio_fingerprint(np.asarray(mono)) == h


def test_temperature_mix_excludes_null_groups(spark):
    from connapse_spark.operators.sampling import temperature_mix

    rows = [(i, "en" if i % 2 else None) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, "lang", "doc_id", alpha=0.3, budget_frac=1.0)
    got = out.select("lang").distinct().collect()
    assert {r.lang for r in got} == {"en"}
    # budget_frac=1 with a single group -> rate 1: every non-null row kept
    assert out.count() == 20
