"""Per-layer metrics of a traced run, computed from the span tree, the Spark
event log and the workload's own post-run probes.

``PER_LAYER`` lists each metric with its unit, which way is better, and the
end-to-end metric (and workload) it should move. A metric whose layer a
workload does not exercise reads 0 on that workload.
"""

from __future__ import annotations

import statistics

PER_LAYER = [
    # name, unit, better, moves
    ("snapshots.commit_s", "s", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("snapshots.bytes_written", "B", "lower", "store_bytes_per_text_byte (update)"),
    ("snapshots.apply_changes_s", "s", "lower", "work_per_s via the wave (update)"),
    ("snapshots.files_rewritten_ratio", "ratio", "lower", "work_per_s via the wave (update)"),
    ("ivf.build_s", "s", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("ivf.maybe_rebuild_s", "s", "lower", "work_per_s via the wave (update)"),
    ("ivf.rebuilds", "count", "lower", "work_per_s via the wave (update)"),
    ("ivf.probe_scan_frac", "ratio", "lower", "op_p50_ms, work_per_s (update); guarded by recall_at_10"),
    ("ivf.list_max_over_mean", "ratio", "lower", "query tail (update)"),
    ("ivf.recall_at_10", "ratio", "higher", "correctness floor (update)"),
    ("keyword_index.build_s", "s", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("keyword_index.postings_rows", "count", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("keyword_index.upsert_s", "s", "lower", "work_per_s via the wave (update)"),
    ("keyword_index.probe_ms", "ms", "lower", "op_p50_ms (update)"),
    ("chunking.chunks", "count", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("chunking.s", "s", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("embed.s", "s", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("embed.cache_hit_ratio", "ratio", "higher", "work_per_s via the wave (update)"),
    ("search.plan_ms", "ms", "lower", "op_p50_ms, work_per_s (update)"),
    ("search.exec_ms", "ms", "lower", "op_p50_ms, work_per_s (update)"),
    ("spark.jobs_per_query", "count", "lower", "op_p50_ms, work_per_s (update)"),
    ("spark.tasks_per_query", "count", "lower", "op_p50_ms, work_per_s (update)"),
    ("ingest.load_serving_s", "s", "lower", "fresh_query_p50_ms (update)"),
    ("ingest.self_s", "s", "lower", "setup_s / ingest_mb_per_s (update)"),
    ("dedup.minhash_s", "s", "lower", "op_p50_ms, curate_mb_per_s (curate)"),
    ("dedup.pair_precision", "ratio", "higher", "op_p50_ms, curate_mb_per_s (curate)"),
    ("textstats.gopher_s", "s", "lower", "op_p50_ms, curate_mb_per_s (curate)"),
    ("curate.self_s", "s", "lower", "op_p50_ms, curate_mb_per_s (curate)"),
    ("spark.task_run_s", "s", "lower", "op_p50_ms (all)"),
    ("spark.cpu_s", "s", "lower", "op_p50_ms (all)"),
    ("spark.shuffle_bytes", "B", "lower", "op_p50_ms (all)"),
    ("spark.spill_bytes", "B", "lower", "op_p50_ms, peak_rss_mb (all)"),
    ("spark.floor_s", "s", "lower", "op_p50_ms (all)"),
    ("spark.persisted_rdds_leaked", "count", "lower", "peak_rss_mb (all)"),
    ("host.steal_pct", "%", "lower", "none: host contention"),
    ("host.sentinel_ms", "ms", "lower", "none: host contention"),
    ("trace.overhead_ms", "ms", "lower", "none: traced minus untraced op_p50_ms"),
    ("trace.overhead_frac", "ratio", "lower", "none: overhead_ms over untraced op_p50_ms"),
    ("trace.layer_coverage_build", "ratio", "higher", "none: share of the build's wall time in layer spans"),
    ("trace.layer_coverage_wave", "ratio", "higher", "none: share of the wave's wall time in layer spans"),
]

KEYWORD_TABLES = {"tf_postings", "positions_postings", "tokens", "postings"}
IVF_TABLES = {"ivf_index", "ivf_centroids"}
COVERING = ("snapshots.", "ivf.", "keyword_index.")


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def compute(run, tracer, prof, extra: dict) -> dict:
    """Every metric in PER_LAYER for one traced run."""
    from tracing import union_length

    m = {name: 0.0 for name, *_ in PER_LAYER}
    m.update({k: v for k, v in run.layer.items() if k in m})
    m.update({k: v for k, v in extra.items() if k in m})

    def subtree(sp):
        return [sp] + tracer.descendants(sp)

    def groups(spans):
        return {s.span_id for sp in spans for s in subtree(sp)}

    def dur(spans):
        return sum(s.dur for s in spans)

    def table(s):
        return s.name.split(":", 1)[1]

    def coverage(sp):
        """Share of ``sp``'s wall time inside snapshots, ivf and
        keyword_index spans."""
        return union_length([(s.start, s.end) for s in tracer.descendants(sp)
                             if s.name.startswith(COVERING)]) / sp.dur

    build = run.layer.get("build_span")
    if build is not None:
        commits = tracer.named("snapshots.commit:", build)
        m["snapshots.commit_s"] = dur(commits)
        m["ivf.build_s"] = dur(tracer.named("ivf.build_vector_index", build)) + dur(
            [s for s in commits if table(s) in IVF_TABLES])
        m["keyword_index.build_s"] = dur(tracer.named("keyword_index.build:", build)) + dur(
            [s for s in commits if table(s) in KEYWORD_TABLES])
        mat = tracer.named("chunking.materialize", build)
        m["chunking.chunks"] = sum(s.attrs.get("chunks", 0) for s in mat)
        m["chunking.s"] = dur(tracer.named("chunking.", build))
        st = prof.first_stage_caching("from_cache", groups([build]))
        m["embed.s"] = (st.complete - st.submit) if st is not None else 0.0
        m["ingest.self_s"] = tracer.self_time(build)
        m["trace.layer_coverage_build"] = coverage(build)

    traced_ops = run.op_spans
    waves = [s for s in tracer.spans if s.name == "update.wave"]
    if waves:
        m["snapshots.apply_changes_s"] = _median([dur(tracer.named("snapshots.apply_changes:", w)) for w in waves])
        rebuild = [s for w in waves for s in tracer.named("ivf.maybe_rebuild_index", w)]
        m["ivf.maybe_rebuild_s"] = _median([s.dur for s in rebuild])
        m["ivf.rebuilds"] = sum(bool(s.attrs.get("rebuilt")) for s in rebuild)
        m["keyword_index.upsert_s"] = _median([dur(tracer.named("keyword_index.serving_wave", w)) for w in waves])
        m["trace.layer_coverage_wave"] = _median([coverage(w) for w in waves])

    queries = [s for s in tracer.spans if s.name in ("read.query", "update.fresh_query")]
    if queries:
        plan = [s.dur * 1000 for q in queries for s in tracer.children(q) if s.name == "search.plan"]
        execs = [s.dur * 1000 for q in queries for s in tracer.children(q) if s.name == "search.exec"]
        m["search.plan_ms"] = _median(plan)
        m["search.exec_ms"] = _median(execs)
        tot = prof.totals(groups(queries))
        m["spark.jobs_per_query"] = tot["jobs"] / len(queries)
        m["spark.tasks_per_query"] = tot["tasks"] / len(queries)
    m["ingest.load_serving_s"] = _median([s.dur for s in tracer.spans if s.name == "ingest.load_serving"])

    curates = [s for s in traced_ops if s.name == "curate.curate"]
    if curates:
        stages = sum(run.layer.get(k, 0.0) for k in (
            "dedup.minhash_s", "textstats.gopher_s", "dedup.exact_s", "dedup.contamination_s"))
        m["curate.self_s"] = _median([s.dur for s in curates]) - stages

    if traced_ops:
        per_op = [prof.totals(groups([s]), (s.start, s.end)) for s in traced_ops]
        for key in ("task_run_s", "cpu_s", "shuffle_bytes", "spill_bytes", "floor_s"):
            m["spark." + key] = statistics.mean(t[key] for t in per_op)

    ops = run.samples.get("op_ms", [])
    flags = run.samples.get("op_traced", [])
    on = [x for x, f in zip(ops, flags) if f]
    off = [x for x, f in zip(ops, flags) if not f]
    if on and off:
        m["trace.overhead_ms"] = _median(on) - _median(off)
        m["trace.overhead_frac"] = m["trace.overhead_ms"] / _median(off)
    return m
