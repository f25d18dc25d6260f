"""Tracing for the benchmark: in-memory spans, Spark job groups, the event-log
parser, and host-contention probes.

Spans are recorded only from the benchmark's own files. In a traced run,
:func:`instrument` wraps public functions of the engine's layer modules
(``snapshots``, ``ivf``, ``keyword_index``, ``chunking``, ...) so each call
opens a span and sets a Spark job group named after it. Spark is lazy: a
span around a plan builder times only plan construction, and the execution
lands in the action that consumes the plan. The job group carries that
execution to the consuming span (e.g. ``snapshots.commit:tf_postings``);
no extra ``persist``/``count`` barriers are inserted.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    parent: str | None
    trace_id: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so the
    untraced run pays nothing but the context-manager entry."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, sp: Span | None) -> None:
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.span_id, sp.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"s{len(self.spans)}"
        sp = Span(sid, name, time.time(), parent.span_id if parent else None,
                  parent.trace_id if parent else sid, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        return sp.dur - union_length([(c.start, c.end) for c in self.children(sp)])

    def named(self, prefix: str, within: Span | None = None) -> list[Span]:
        pool = self.descendants(within) if within is not None else self.spans
        return [s for s in pool if s.name.startswith(prefix)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "span_id": s.span_id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "trace_id": s.trace_id,
                    "attrs": s.attrs,
                }) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _table_of(args, kwargs, pos: int) -> str:
    path = kwargs.get("table_dir") or (args[pos] if len(args) > pos else "")
    return os.path.basename(str(path).rstrip("/"))


def instrument(tracer: Tracer) -> callable:
    """Wrap the engine's layer entry points so every call opens a span.
    Returns a function that restores the originals."""
    from pyspark.sql.classic.dataframe import DataFrame

    from connapse_spark.operators import ingest, keyword_index
    from connapse_spark.plans import ivf
    from connapse_spark.sources import snapshots

    saved: list[tuple[object, str, object]] = []

    def wrap(mod, attr, name_fn, on_result=None):
        orig = getattr(mod, attr)

        def wrapper(*args, **kwargs):
            with tracer.span(name_fn(args, kwargs)) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None and sp is not None:
                    on_result(sp, out)
                return out

        saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)

    def fixed(name):
        return lambda a, k: name

    wrap(snapshots, "commit_snapshot", lambda a, k: "snapshots.commit:" + _table_of(a, k, 1))
    wrap(snapshots, "apply_changes", lambda a, k: "snapshots.apply_changes:" + _table_of(a, k, 1))
    wrap(ivf, "build_vector_index", fixed("ivf.build_vector_index"))
    wrap(ivf, "ivf_index_upsert", fixed("ivf.index_upsert"))
    wrap(ivf, "maybe_rebuild_index", fixed("ivf.maybe_rebuild_index"),
         lambda sp, out: sp.attrs.update(rebuilt=bool(out[0])))
    for fn in ("build_token_table", "build_postings", "build_tf_postings",
               "build_positions_postings", "build_positions_all", "build_doclen_table"):
        wrap(keyword_index, fn, fixed("keyword_index.build:" + fn))
    for fn in ("upsert_postings", "upsert_tf_postings", "upsert_positions_postings", "upsert_doclen"):
        wrap(keyword_index, fn, fixed("keyword_index.upsert:" + fn))
    for fn in ("keyword_search_indexed", "keyword_search_websearch_indexed"):
        wrap(keyword_index, fn, fixed("keyword_index.probe:" + fn))
    wrap(ingest, "keyword_serving_wave", fixed("keyword_index.serving_wave"))
    # ingest.py binds chunk_documents by name at import
    wrap(ingest, "chunk_documents", fixed("chunking.chunk_documents"))

    # The chunk table that ingest.ingest returns is materialized by the
    # count() barrier inside ingest_serving(_incremental); that job runs the
    # chunker, so it is attributed to a chunking span.
    chunk_frames: set[int] = set()
    wrap(ingest, "ingest", fixed("ingest.ingest"),
         lambda sp, out: chunk_frames.add(id(out[0])))
    orig_count = DataFrame.count

    def count(self):
        if id(self) in chunk_frames:
            chunk_frames.discard(id(self))
            with tracer.span("chunking.materialize") as sp:
                n = orig_count(self)
                if sp is not None:
                    sp.attrs["chunks"] = n
                return n
        return orig_count(self)

    DataFrame.count = count

    def restore():
        DataFrame.count = orig_count
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)

    return restore


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class StageRec:
    stage_id: int
    attempt: int
    job_id: int | None = None
    submit: float = 0.0
    complete: float = 0.0
    rdd_names: list = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class JobRec:
    job_id: int
    group: str | None
    stages: list = field(default_factory=list)


def parse_event_log(log_dir: str) -> tuple[dict[int, JobRec], dict[tuple, StageRec]]:
    """Read every event-log file under ``log_dir``: Spark 4 writes JSON lines,
    either one file per application or, with rolling enabled, a directory of
    ``events_*`` files. Returns jobs by id and stage attempts by
    (stage id, attempt)."""
    jobs: dict[int, JobRec] = {}
    stages: dict[tuple, StageRec] = {}
    stage_job: dict[int, int] = {}
    files = []
    for dirpath, _, names in os.walk(log_dir):
        files += [os.path.join(dirpath, n) for n in names if not n.startswith(".")]

    def order(p):
        base = os.path.basename(p)
        parts = base.split("_")
        return (os.path.dirname(p), int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0, base)

    for path in sorted(files, key=order):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = JobRec(ev["Job ID"], props.get("spark.jobGroup.id"), list(ev.get("Stage IDs", [])))
                    for sid in j.stages:
                        stage_job[sid] = j.job_id
                    jobs[j.job_id] = j
                elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
                    st = stages.setdefault(key, StageRec(*key))
                    st.job_id = stage_job.get(si["Stage ID"])
                    if si.get("Submission Time"):
                        st.submit = si["Submission Time"] / 1000.0
                    if si.get("Completion Time"):
                        st.complete = si["Completion Time"] / 1000.0
                    st.rdd_names = [(r.get("Name", ""), bool((r.get("Storage Level") or {}).get("Use Memory")))
                                    for r in si.get("RDD Info", [])]
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    st = stages.setdefault(key, StageRec(*key))
                    tm = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_s += tm.get("Executor Run Time", 0) / 1000.0
                    st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for st in stages.values():
        if st.job_id is None:
            st.job_id = stage_job.get(st.stage_id)
    return jobs, stages


class SparkProfile:
    """Event-log totals for a set of job groups (span ids)."""

    def __init__(self, jobs: dict, stages: dict):
        self.jobs = jobs
        self.stages = stages
        self.by_job: dict[int, list[StageRec]] = {}
        for st in stages.values():
            if st.job_id is not None:
                self.by_job.setdefault(st.job_id, []).append(st)

    def totals(self, groups: set[str], window: tuple[float, float] | None = None) -> dict:
        js = [j for j in self.jobs.values() if j.group in groups]
        sts = [st for j in js for st in self.by_job.get(j.job_id, [])]
        busy = union_length([(st.submit, st.complete) for st in sts if st.complete >= st.submit > 0])
        out = {
            "jobs": len(js),
            "tasks": sum(st.tasks for st in sts),
            "task_run_s": sum(st.run_s for st in sts),
            "cpu_s": sum(st.cpu_s for st in sts),
            "shuffle_bytes": sum(st.shuffle_bytes for st in sts),
            "spill_bytes": sum(st.spill_bytes for st in sts),
        }
        if window is not None:
            out["floor_s"] = (window[1] - window[0]) - busy
        return out

    def first_stage_caching(self, marker: str, groups: set[str]) -> StageRec | None:
        """The first stage (by submission) that holds a cached RDD whose plan
        name contains ``marker``: the stage that computes that cache."""
        cands = [
            st for j in self.jobs.values() if j.group in groups
            for st in self.by_job.get(j.job_id, [])
            if any(cached and marker in name for name, cached in st.rdd_names)
        ]
        return min(cands, key=lambda s: s.submit) if cands else None


# ---------------------------------------------------------------------------
# Host contention
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None where unavailable."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()[1:]
    except OSError:
        return None
    vals = [int(x) for x in fields]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_pct(before, after) -> float:
    if before is None or after is None or after[1] <= before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def sentinel_ms(spark) -> float:
    """Wall time of a fixed-cost Spark job (the same plan and input on every
    run), so a noisy host window shows up next to the measurements."""
    t = time.perf_counter()
    spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id * id % 7919) AS s").collect()
    return (time.perf_counter() - t) * 1000.0
