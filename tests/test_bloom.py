"""Bloom-filter decontamination: sizing policy, one-sided-error guarantee
vs the exact screen, and the no-blocklist-join probe plan."""

import math
import os

import pytest
from pyspark.sql import functions as F

from connapse_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersist on teardown — see tests/test_pq.py::emb
    df = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .limit(200)
        .cache()
    )
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def blocklist(docs):
    return docs.filter(F.col("doc_id") % 17 == 0).select(
        F.explode(dedup.shingles_expr("text", 3)).alias("s")
    )


def test_bloom_params_policy():
    # textbook sizing: ~9.6 bits/item at 0.1% fpp, power-of-two m, j >= 1
    for n in (1, 100, 10_000, 1_000_000):
        m, j = dedup.bloom_params(n, target_fpp=1e-3)
        assert m & (m - 1) == 0, "m must be a power of two"
        assert m >= 9 * n or m == 1024  # floor for tiny blocklists
        assert 1 <= j <= 16
    # 100x the blocklist must grow the filter, not the error rate
    m1, _ = dedup.bloom_params(10_000)
    m2, _ = dedup.bloom_params(1_000_000)
    assert m2 > m1


def test_bloom_no_false_negatives(docs, blocklist):
    """Every exact hit must also be a Bloom hit, per doc: n_hits_bloom >=
    n_hits_exact and exact-contaminated => bloom-contaminated."""
    exact = {
        r["id"]: r["n_hits"]
        for r in dedup.contamination_check(docs, blocklist, n=3).collect()
    }
    bloom = {
        r["id"]: r["n_hits"]
        for r in dedup.bloom_contamination_check(
            docs, blocklist, n=3, m_bits=4096, j=4
        ).collect()
    }
    assert set(exact) == set(bloom)
    for i in exact:
        assert bloom[i] >= exact[i], i


def test_bloom_small_filter_saturates(docs, blocklist):
    """Degenerate sizing sanity: an absurdly small bitmap (64 bits) should
    saturate and flag essentially everything — the failure mode
    bloom_params exists to prevent."""
    out = dedup.bloom_contamination_check(
        docs, blocklist, n=3, m_bits=64, j=2
    ).collect()
    frac = sum(1 for r in out if r["contaminated"]) / len(out)
    assert frac > 0.9


def test_bloom_probe_plan_has_no_blocklist_join(docs, blocklist):
    """The probe side must test membership against the broadcast one-row
    bitmap — no sort-merge/shuffled-hash join of corpus shingles against
    blocklist shingles (that is exactly the exact screen's plan, which
    scales with the blocklist; Bloom's point is that it doesn't)."""
    plan = (
        dedup.bloom_contamination_check(docs, blocklist, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
