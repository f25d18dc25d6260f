"""Measure wall-clock vs scale factor for representative plan shapes and
write SCALING.md. Rows grow 10× per SF step; a scan-shaped operator's
marginal cost should grow ≈ linearly once past the scheduling floor, and
the quadratic kernels (exact all-pairs cosine) should visibly blow up
while their LSH/banded twins stay near-linear — the measured version of
the 100 TB argument.

Usage: python tools/scaling.py [out.md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["0.001", "0.01", "0.1"]

# name -> (query key, plan shape note)
QUERIES = {
    "gopher_filter": "map-side projection (scan-bound)",
    "exact_dedup": "one hash shuffle on sha256",
    "bpe_merges": "corpus shuffle + vocab-sized aggregate",
    "minhash_lsh": "banded candidate self-join (near-dup, scalable twin)",
    "neardup_cosine": "EXACT all-pairs cosine — the O(n²) verification kernel",
    "neardup_cosine_lsh": "bucketed pairs — the O(n·b) scale path",
    "knn_vector": "scan + TakeOrdered top-k",
    "hybrid_onepass": "single corpus scan, fused branch scores",
    "cdc_chunks": "CDC column/oracle tier — interpreted HOF fold",
    "cdc_chunks_fast": "CDC Arrow production tier (same state machine)",
    "pq_encode": "broadcast codebook, map-side fold",
    "bloom_contamination": "broadcast bitmap probe (no blocklist join)",
    "cms_hitters": "constant d·w sketch + vocab top-k",
    "quality_sample": "map-side scoring + one per-group window",
    "funnel": "chained step-filtered user aggregates",
    "corpus_curate": "4 composed stages, drop-side broadcast joins",
    "salted_agg": "two-stage (keys+salt -> keys) monoid merge",
    "ivf_drift": "per-list mean + broadcast argmax audit",
    "hybrid_many_fast": "BLAS batch tier, 3 hybrid queries one scan",
    "range_join_orders": "time-bin bucketed band join",
    "ingest_stats_native": "native chunk -> hash -> embed -> summarize",
    "leakage_split": "LSH pairs -> components (union-find tier) -> group-key split",
    "snapshot_merge": "file-level copy-on-write MERGE, full disk round trip",
    "hybrid_many_filtered": "per-query predicate masks in the one-scan batch",
    "hybrid_indexed": "posting-list-served hybrid (build folded in; probe is list-pruned)",
    "keyword_many_indexed": "tf-postings-served keyword batch (build folded in)",
    "warc_roundtrip": "corpus -> WARC shards -> re-ingest -> extract (Arrow map-side)",
    "link_graph": "href extraction, map-side mapInPandas",
    "pagerank": "5 power iterations, join+agg each (50-node graph: stage-floor-bound)",
    "robots_gate": "broadcast rules dict, map-side Arrow annotate",
    "canonical_dedup": "extractor + one window shuffle on the coalesced canonical key",
    # r8
    "frontier_schedule_join": "distributed robots tier: join gate + Arrow delay pass + freshness join",
    "pagerank_warm": "cold_3 prior + 2 warm sweeps (seed join + renorm + shared loop)",
    # best-of-2 means run 2 reads the token-table cache the registry
    # entry builds on run 1 — this row is the CACHED-probe (serve-tier)
    # number, NOT build+probe; builds are the bench.py build rows
    "keyword_indexed_phrase": "websearch phrases served from postings + token-table verify (cached probe)",
    # r8 second wave: frontier_delta scales with the sf corpus (the two
    # fixture rows cdx_index/image_neardup are fixed-cost and stay out)
    "frontier_delta": "canonical-key partial-agg + distinct ledger keys + anti-join",
    # r9
    "quality_classifier": "trained model scores: n-gram explode -> broadcast bin join -> id sum",
    "wat_roundtrip": "corpus -> WARC -> WAT metadata export -> re-ingest (Arrow map-side x2)",
    "hybrid_websearch": "tsquery keyword branch (phrases/negation/OR) + vector + CC fusion",
    "hybrid_many_websearch": "3 tsquery queries, one scan: match-gated websearch exprs over shared tokens",
}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING.md"
    import __spark_entry__ as entry

    from connapse_spark.session import get_spark

    spark = get_spark(app_name="connapse-scaling", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(entry.queries())

    # the registry's cdc entry slices to 200 docs (to bound its
    # recursive-CTE ORACLE cost); scaling must run the raw operator on
    # the full table
    from connapse_spark.operators import dedup as _dedup

    qs["cdc_chunks"] = lambda spark, sf_dir: _dedup.cdc_chunks(
        entry._t(spark, sf_dir, "documents")
    )
    qs["cdc_chunks_fast"] = lambda spark, sf_dir: _dedup.cdc_chunks_fast(
        entry._t(spark, sf_dir, "documents")
    )
    # warm the JVM/codegen once
    qs["gopher_filter"](spark, f"/root/testdata/sf{SFS[0]}").count()

    results: dict[str, dict[str, float]] = {}
    for name in QUERIES:
        results[name] = {}
        for sf in SFS:
            sf_dir = f"/root/testdata/sf{sf}"
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                best = min(best, time.time() - t0)
            results[name][sf] = best
            print(f"# {name} sf{sf}: {best:.2f}s", file=sys.stderr)

    lines = [
        "# SCALING — measured wall-clock vs scale factor",
        "",
        "Rows grow 10× per column (sf0.001 → 0.01 → 0.1, local[32], best of 2,",
        "warm JVM). `x10 ratio` = t(sf0.1)/t(sf0.01): a scan-shaped operator",
        "sits well under 10 (scheduling floor + linear work); a quadratic",
        "kernel overshoots it. Generated by `python tools/scaling.py`.",
        "",
        "| query | plan shape | sf0.001 | sf0.01 | sf0.1 | x10 ratio |",
        "|---|---|---|---|---|---|",
    ]
    for name, note in QUERIES.items():
        r = results[name]
        ratio = r["0.1"] / max(r["0.01"], 1e-9)
        lines.append(
            f"| {name} | {note} | {r['0.001']:.2f}s | {r['0.01']:.2f}s "
            f"| {r['0.1']:.2f}s | {ratio:.1f}× |"
        )
    lines += [
        "",
        "Reading: the exact all-pairs kernel (`neardup_cosine`) is the one row",
        "whose ratio tracks the QUADRATIC pair count (100× pairs per step) —",
        "it exists as the verification kernel and is gated out of the public",
        "API; its LSH twin answers the same question at near-linear cost.",
        "Everything else stays near or below the 10× row-growth line, i.e.",
        "the plans are scan/shuffle-bound with no hidden superlinear term.",
    ]
    # PRESERVE appended sections (sf1 decades, policy studies): a plain
    # main() run refreshes only the 3-SF table above the first "## "
    # heading — overwriting the whole file once destroyed hand-measured
    # sf1 sections (r8 incident; restored from git)
    tail = ""
    if os.path.exists(out_path):
        prev = open(out_path).read()
        idx = prev.find("\n## ")
        if idx >= 0:
            tail = "\n" + prev[idx:]
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print(f"wrote {out_path}")
    spark.stop()


# ---------------------------------------------------------------------------
# sf1 decade — synthesized 10× of sf0.1 (the driver generates testdata only
# up to sf0.1; /root/testdata is read-only, so the extra decade lives in a
# temp dir). Each source doc yields `factor` variants by seeded word-level
# resampling: ~20% of words replaced from the corpus vocab + a per-copy
# shuffle, keeping length / vocab / n-gram statistics comparable WITHOUT
# creating exact duplicates that would distort the dedup workloads.
# Embeddings get fresh deterministic hash vectors (same distribution).
# ---------------------------------------------------------------------------

SF1_QUERIES = {
    "minhash_lsh": "banded candidate self-join",
    "neardup_incremental": "batch vs persisted band index",
    "hybrid_onepass": "single corpus scan, fused branch scores",
    "keyword_many": "20 queries over one postings aggregation",
    "hybrid_many_fast": "BLAS batch tier, 3 hybrid queries one scan",
    "ann_ivf_seeded": "seeded IVF build + pruned probe",
    "hybrid_indexed": "posting-list-served hybrid (build folded in)",
    "keyword_many_indexed": "tf-postings-served keyword batch (build folded in)",
}


def synthesize_decade(spark, src_dir: str, out_dir: str, factor: int = 10) -> None:
    import pandas as pd

    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    n_src = docs.count()
    vocab = [
        r["w"]
        for r in docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w").count().orderBy(F.desc("count")).limit(200).collect()
        if r["w"]
    ]

    def variants(batches):
        import random

        for pdf in batches:
            out = {c: [] for c in ("doc_id", "text", "lang", "source", "n_chars")}
            for _, row in pdf.iterrows():
                words = row["text"].split()
                for copy in range(factor):
                    rng = random.Random(int(row["doc_id"]) * 1000 + copy)
                    w = [
                        rng.choice(vocab) if rng.random() < 0.2 else x
                        for x in words
                    ]
                    rng.shuffle(w)
                    text = " ".join(w)
                    out["doc_id"].append(int(row["doc_id"]) + copy * n_src)
                    out["text"].append(text)
                    out["lang"].append(row["lang"])
                    out["source"].append(row["source"])
                    out["n_chars"].append(len(text))
            yield pd.DataFrame(out)

    docs.mapInPandas(
        variants, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    from connapse_spark.functions.embed import embed_py

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    n_emb = emb.count()
    dims = len(emb.select("embedding").first()["embedding"])

    def emb_variants(batches):
        for pdf in batches:
            out = {"vec_id": [], "embedding": [], "label": []}
            for _, row in pdf.iterrows():
                for copy in range(factor):
                    vid = int(row["vec_id"]) + copy * n_emb
                    out["vec_id"].append(vid)
                    out["embedding"].append(
                        row["embedding"] if copy == 0
                        else embed_py(f"sf1 vector {vid}", dims)
                    )
                    out["label"].append(int(row["label"]))
            yield pd.DataFrame(out)

    emb.mapInPandas(
        emb_variants, "vec_id long, embedding array<double>, label int"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))


def main_sf1(out_path: str = "SCALING.md") -> None:
    import __spark_entry__ as entry

    from connapse_spark.session import get_spark

    spark = get_spark(
        app_name="connapse-scaling-sf1", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/connapse_sf1")
    if not os.path.exists(os.path.join(sf1_dir, "documents.parquet")):
        print(f"# synthesizing sf1 decade at {sf1_dir}", file=sys.stderr)
        synthesize_decade(spark, "/root/testdata/sf0.1", sf1_dir)

    qs = dict(entry.queries())
    qs["hybrid_onepass"](spark, "/root/testdata/sf0.1").count()  # warm
    results: dict[str, dict[str, float]] = {}
    for name in SF1_QUERIES:
        results[name] = {}
        for label, sf_dir in (("0.1", "/root/testdata/sf0.1"), ("1", sf1_dir)):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                best = min(best, time.time() - t0)
            results[name][label] = best
            print(f"# {name} sf{label}: {best:.2f}s", file=sys.stderr)

    # SERVE-ONLY rows: index/corpus built and pinned OUTSIDE the timed
    # region (the steady-state an ingest-maintained index serves from).
    # The contrast between the scan tier's x10 ratio and the serve tier's
    # is the measured version of the index argument: batch query cost
    # from postings is bounded by matched postings + the stage floor,
    # not corpus size.
    import pyspark.sql.functions as F

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.search import (
        SearchOptions,
        hybrid_search,
        hybrid_search_many_fast,
        keyword_search_many,
    )
    from connapse_spark.plans import ivf as _ivf

    words = [
        "hash", "sort", "merge", "filter", "group", "window", "agg",
        "column", "row", "batch", "spark", "index", "vector", "token",
        "stream", "cache", "shuffle", "partition", "codegen", "parquet",
    ]
    batch = [(i, f"query {w} table scan join") for i, w in enumerate(words)]
    serve_results: dict[str, dict[str, float]] = {}
    for label, sf_dir in (("0.1", "/root/testdata/sf0.1"), ("1", sf1_dir)):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).persist()
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        corpus = docs.join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
        ).persist()
        tokens = ki.build_token_table(docs).persist()
        tfe = ki.build_tf_postings(tokens, "tokens_exact").persist()
        tfs = ki.build_tf_postings(tokens, "tokens_stemmed").persist()
        docs.count(), corpus.count(), tfe.count(), tfs.count()
        # IVF index sized by the reference's lists policy (rows/1000,
        # clamped) — probe cost is then O(nprobe × rows-per-list), i.e.
        # roughly CONSTANT across decades while the scan tier grows with
        # the corpus: the measured version of the ivfflat argument.
        n_vecs = emb.count()
        vidx = _ivf.build_vector_index(
            emb, n_rows=n_vecs, nprobe=3, id_col="vec_id"
        ).persist()
        vidx.index.count()
        kidx = ki.KeywordIndex(tokens, tfe, tfs)
        vectors = emb.select(F.col("vec_id").alias("id"), "embedding")
        sq = "query vector table scan join"
        serve_cases = {
            # scan tier: brute cosine over every vector + per-query corpus
            # re-tokenize — both costs track corpus size
            "hybrid_single_scan": lambda: hybrid_search(
                docs, sq, SearchOptions(top_k=10), vectors=vectors
            ),
            # serve tier: BOTH branches from write-time indexes — IVF probe
            # (nprobe × ~1000 rows/list by the lists policy, ~constant
            # across decades) + posting-list keyword candidates
            "hybrid_single_serve": lambda: hybrid_search(
                docs,
                sq,
                SearchOptions(top_k=10),
                vector_index=vidx,
                keyword_index=kidx,
            ),
            "keyword_batch20_scan": lambda: keyword_search_many(docs, batch, k=10),
            "keyword_batch20_serve": lambda: ki.keyword_search_many_indexed(
                tfe, tfs, batch, k=10
            ),
            "hybrid_batch20_scan": lambda: hybrid_search_many_fast(
                corpus, batch, top_k=10
            ),
            "hybrid_batch20_serve": lambda: hybrid_search_many_fast(
                corpus, batch, top_k=10, tf_postings=(tfe, tfs)
            ),
        }
        for name, fn in serve_cases.items():
            fn().count()  # warm (codegen compile)
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn().count()
                best = min(best, time.time() - t0)
            serve_results.setdefault(name, {})[label] = best
            print(f"# {name} sf{label}: {best:.2f}s", file=sys.stderr)
        for df in (docs, corpus, tokens, tfe, tfs):
            df.unpersist()
        vidx.unpersist()

    lines = [
        "",
        "## sf1 decade (synthesized 10× of sf0.1 — see tools/scaling.py)",
        "",
        "The driver generates testdata up to sf0.1; the fourth point is a",
        "seeded word-resampled 10× corpus (50k docs / 20k vectors) with",
        "matching length/vocab statistics and fresh hash embeddings, so the",
        "headline rows get one more measured decade. `x10 ratio` =",
        "t(sf1)/t(sf0.1).",
        "",
        "| query | plan shape | sf0.1 | sf1 | x10 ratio |",
        "|---|---|---|---|---|",
    ]
    for name, note in SF1_QUERIES.items():
        r = results[name]
        ratio = r["1"] / max(r["0.1"], 1e-9)
        lines.append(
            f"| {name} | {note} | {r['0.1']:.2f}s | {r['1']:.2f}s | {ratio:.1f}× |"
        )
    lines += [
        "",
        "Serve-only rows (index/corpus pinned OUTSIDE the timed region —",
        "the steady state an ingest-maintained index serves from; 20-query",
        "batches). The scan tiers re-tokenize/re-aggregate the corpus per",
        "batch, so their cost tracks corpus size; the postings-served tiers",
        "read matched postings only — their x10 ratio is the stage floor",
        "plus matched-postings growth, which is what survives 100 TB:",
        "",
        "| query | plan shape | sf0.1 | sf1 | x10 ratio |",
        "|---|---|---|---|---|",
    ]
    serve_notes = {
        "hybrid_single_scan": "brute cosine + per-query corpus tokenize",
        "hybrid_single_serve": "IVF probe + posting-list keyword candidates",
        "keyword_batch20_scan": "tokenize+aggregate corpus per batch",
        "keyword_batch20_serve": "term-pruned tf-postings probe",
        "hybrid_batch20_scan": "BLAS vectors + per-batch corpus tokenize",
        "hybrid_batch20_serve": "BLAS vectors + tf-postings probe",
    }
    for name, note in serve_notes.items():
        r = serve_results[name]
        ratio = r["1"] / max(r["0.1"], 1e-9)
        lines.append(
            f"| {name} | {note} | {r['0.1']:.2f}s | {r['1']:.2f}s | {ratio:.1f}× |"
        )
    with open(out_path, "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"appended sf1 section to {out_path}")
    spark.stop()


def main_r10() -> None:
    """r10 decade rows: full-websearch batch-20 (scan tier vs the new
    postings-served fast tier) at sf0.1 / synthesized sf1. Prints the
    SCALING.md table rows; the section itself is authored by hand with
    these numbers (same policy as the r8/r9 appended sections)."""
    import pyspark.sql.functions as F

    from connapse_spark.operators import keyword_index as ki
    from connapse_spark.operators.search import (
        hybrid_search_many,
        hybrid_search_many_fast,
    )
    from connapse_spark.session import get_spark

    spark = get_spark(
        app_name="connapse-scaling-r10", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/connapse_sf1")
    if not os.path.exists(os.path.join(sf1_dir, "documents.parquet")):
        print(f"# synthesizing sf1 decade at {sf1_dir}", file=sys.stderr)
        synthesize_decade(spark, "/root/testdata/sf0.1", sf1_dir)
    words = [
        "hash", "sort", "merge", "filter", "group", "window", "agg",
        "column", "row", "batch", "spark", "index", "vector", "token",
        "stream", "cache", "shuffle", "partition", "codegen", "parquet",
    ]
    forms = [
        lambda w: f'"{w} table" scan',
        lambda w: f"{w} -merge",
        lambda w: f'{w} OR "table scan"',
        lambda w: f"query {w} join",
    ]
    ws_batch = [(i, forms[i % 4](w)) for i, w in enumerate(words)]
    out: dict[str, dict[str, float]] = {}
    for label, sf_dir in (("0.1", "/root/testdata/sf0.1"), ("1", sf1_dir)):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).persist()
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        corpus = docs.join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
        ).persist()
        tokens = ki.build_token_table(docs).persist()
        tfe = ki.build_tf_postings(tokens, "tokens_exact").persist()
        tfs = ki.build_tf_postings(tokens, "tokens_stemmed").persist()
        ppe = ki.build_positions_postings(tokens, "tokens_exact").persist()
        pps = ki.build_positions_postings(tokens, "tokens_stemmed").persist()
        docs.count(), corpus.count(), tfe.count(), tfs.count(), ppe.count(), pps.count()
        cases = {
            "websearch_batch20_scan": lambda: hybrid_search_many(
                corpus, ws_batch, top_k=10, websearch=True
            ),
            "websearch_batch20_serve": lambda: hybrid_search_many_fast(
                corpus, ws_batch, top_k=10, websearch=True,
                tf_postings=(tfe, tfs), positions_postings=(ppe, pps),
            ),
        }
        for name, fn in cases.items():
            fn().count()  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn().count()
                best = min(best, time.time() - t0)
            out.setdefault(name, {})[label] = best
            print(f"# {name} sf{label}: {best:.2f}s", file=sys.stderr)
        for df in (docs, corpus, tokens, tfe, tfs, ppe, pps):
            df.unpersist()
    for name, r in out.items():
        ratio = r["1"] / max(r["0.1"], 1e-9)
        print(f"| {name} | … | {r['0.1']:.2f}s | {r['1']:.2f}s | {ratio:.1f}× |")
    spark.stop()


if __name__ == "__main__":
    if "--sf1" in sys.argv:
        main_sf1()
    elif "--r10" in sys.argv:
        main_r10()
    else:
        main()
