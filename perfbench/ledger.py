"""Per-layer ledger of a traced run: spans + event-log jobs + streaming
progress -> the ``per_layer`` metrics of BENCHMARK.json.

Counts and times marked "per op" are divided by the workload's operation
count (ingest: track calls plus streamed micro-batches; fetch: fetches plus
panels; curate: chain passes). A layer a workload does not exercise reports
0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.eventlog import Job, union_ms
from perfbench.tracing import (
    FS_METHODS,
    Span,
    attribute_jobs,
    job_intervals,
    no_job_ms,
    self_ms,
    subtree,
)

STREAM_PHASES = ("triggerExecution", "addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning")
CURATE_CALLS = (
    "dedup_exact",
    "minhash_near_duplicates",
    "connected_components",
    "quality_score",
    "train_bpe",
    "encode_ids",
    "pack_ids",
)
JOB_LAYERS = ("ingest", "database", "query", "streaming", "functions")


def _names() -> list[tuple[str, str, str]]:
    out = [
        ("session.start_s", "s", "lower"),
        ("ingest.rows_out_per_event", "rows/event", "lower"),
        ("ingest.shuffle_write_bytes_per_event", "B/event", "lower"),
        ("ingest.task_cpu_ms", "ms", "lower"),
        ("database.track.wall_ms", "ms", "lower"),
        ("database.track.jobs", "count", "lower"),
        ("database.track.no_job_ms", "ms", "lower"),
        ("database.track.files_written", "count", "lower"),
        ("database.stats.wall_ms", "ms", "lower"),
        ("manifest.read.calls", "count", "lower"),
        ("manifest.read.ms", "ms", "lower"),
        ("manifest.commit.ms", "ms", "lower"),
    ]
    for m in FS_METHODS:
        out += [(f"fs.{m}.calls", "count", "lower"), (f"fs.{m}.ms", "ms", "lower")]
    out += [
        ("database.fetch.plan_ms", "ms", "lower"),
        ("database.fetch.segments_kept", "count", "lower"),
        ("database.fetch.prune_kept_frac", "ratio", "lower"),
        ("database.fetch.files_scanned", "count", "lower"),
        ("query.fetch.exec_ms", "ms", "lower"),
        ("query.fetch.jobs", "count", "lower"),
        ("query.fetch.tasks", "count", "lower"),
        ("query.fetch.no_job_ms", "ms", "lower"),
        ("query.fetch.rows_scanned_per_row_returned", "ratio", "lower"),
        ("query.fetch_multi.exec_ms", "ms", "lower"),
        ("database.compact.wall_ms", "ms", "lower"),
        ("database.refresh_stats.wall_ms", "ms", "lower"),
        ("database.vacuum.wall_ms", "ms", "lower"),
        ("database.compact.bytes_rewritten", "bytes", "lower"),
        ("database.segments_per_epoch", "count", "lower"),
    ]
    out += [(f"streaming.{p}_ms", "ms", "lower") for p in STREAM_PHASES]
    out.append(("streaming.batches", "count", "higher"))
    for c in CURATE_CALLS:
        out += [
            (f"functions.{c}.wall_ms", "ms", "lower"),
            (f"functions.{c}.jobs", "count", "lower"),
            (f"functions.{c}.task_cpu_ms", "ms", "lower"),
            (f"functions.{c}.shuffle_bytes", "bytes", "lower"),
        ]
    for layer in JOB_LAYERS:
        out += [
            (f"{layer}.self_ms", "ms", "lower"),
            (f"{layer}.gc_ms", "ms", "lower"),
            (f"{layer}.spill_bytes", "bytes", "lower"),
            (f"{layer}.no_job_ms", "ms", "lower"),
        ]
    out += [
        ("fs.self_ms", "ms", "lower"),
        ("manifest.self_ms", "ms", "lower"),
        ("trace.accounted_frac", "ratio", "higher"),
        ("trace.client_frac", "ratio", "lower"),
        ("trace.no_job_frac", "ratio", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ]
    return out


PER_LAYER = _names()
UNITS = {n: u for n, u, _ in PER_LAYER}
ACCOUNTED_BOUND = 0.10  # |accounted_frac - 1| must stay within this


def accounting_error(m: dict[str, float]) -> str | None:
    """Why the layer spans do not account for the measured wall time, or
    None when they do. Time no layer span covers (the benchmark's own code,
    or a library call nothing wraps) lowers ``trace.accounted_frac``;
    spans overlapping across threads raise it."""
    frac = m["trace.accounted_frac"]
    if abs(frac - 1) <= ACCOUNTED_BOUND:
        return None
    return f"layer self times cover {frac:.3f} of the measured wall time, outside 1 +/- {ACCOUNTED_BOUND}"


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _ancestors(spans: list[Span], s: Span):
    while s.parent is not None:
        s = spans[s.parent]
        yield s


def compute(
    spans: list[Span],
    jobs: list[Job],
    root: int,
    ops: int,
    events: int,
    progress: list[dict],
    session_s: float,
    overhead_frac: float,
    segments_per_epoch: list[float],
) -> dict[str, float]:
    """The per-layer metrics of the spans under ``root`` (the measured
    phase of the workload)."""
    spans_in = subtree(spans, root)
    own = {s.id for s in spans_in}
    selfs = self_ms(spans)
    direct = attribute_jobs(spans, jobs)
    ops = max(ops, 1)
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans_in:
        by_name[s.name].append(s)

    def sub_jobs(s: Span) -> list[Job]:
        return [j for c in subtree(spans, s.id) for j in direct.get(c.id, [])]

    def stage_sum(js: list[Job], metric: str, pred=None) -> int:
        return sum(st.get(metric) for j in js for st in j.stages if pred is None or pred(st))

    m: dict[str, float] = {n: 0.0 for n, _, _ in PER_LAYER}
    m["session.start_s"] = session_s

    # write path: database.track spans and the segment write inside them
    tracks = by_name["database.track"]
    if tracks:
        tjobs = [sub_jobs(s) for s in tracks]
        writes = [c for s in tracks for c in subtree(spans, s.id) if c.name == "database.write_segment"]
        # the shuffle-map stage of the segment write: reads the input, writes shuffle
        map_stage = lambda st: st.get("input_records") > 0 and st.get("shuffle_write_records") > 0  # noqa: E731
        wjobs = [j for w in writes for j in direct.get(w.id, [])]
        m["ingest.rows_out_per_event"] = stage_sum(wjobs, "shuffle_write_records", map_stage) / max(events, 1)
        m["ingest.shuffle_write_bytes_per_event"] = stage_sum(wjobs, "shuffle_write_bytes", map_stage) / max(events, 1)
        m["ingest.task_cpu_ms"] = stage_sum(wjobs, "cpu_ns", map_stage) / 1e6 / len(tracks)
        m["database.track.wall_ms"] = _mean([s.ms for s in tracks])
        m["database.track.jobs"] = _mean([len(js) for js in tjobs])
        m["database.track.no_job_ms"] = _mean([no_job_ms(s, js) for s, js in zip(tracks, tjobs)])
        m["database.track.files_written"] = sum(w.attrs.get("files", 0) for w in writes) / len(tracks)
    m["database.stats.wall_ms"] = _mean([s.ms for s in by_name["database.stats"]])

    m["manifest.read.calls"] = len(by_name["manifest.read"]) / ops
    m["manifest.read.ms"] = sum(s.ms for s in by_name["manifest.read"]) / ops
    m["manifest.commit.ms"] = _mean([s.ms for s in by_name["manifest.commit"]])
    for meth in FS_METHODS:
        m[f"fs.{meth}.calls"] = len(by_name[f"fs.{meth}"]) / ops
        m[f"fs.{meth}.ms"] = sum(s.ms for s in by_name[f"fs.{meth}"]) / ops

    # read path: pruning under fetch/fetch_multi, plan and execution
    m["database.fetch.plan_ms"] = _mean([s.ms for s in by_name["database.fetch"]])
    prunes = [
        s
        for s in by_name["database.prune"]
        if any(a.name in ("database.fetch", "database.fetch_multi") for a in _ancestors(spans, s))
    ]
    if prunes:
        m["database.fetch.segments_kept"] = _mean([s.attrs["kept"] for s in prunes])
        m["database.fetch.prune_kept_frac"] = sum(s.attrs["kept"] for s in prunes) / max(
            sum(s.attrs["candidates"] for s in prunes), 1
        )
        m["database.fetch.files_scanned"] = _mean([s.attrs["files"] for s in prunes])
    execs = by_name["query.fetch"]
    if execs:
        ejobs = [sub_jobs(s) for s in execs]
        m["query.fetch.exec_ms"] = _mean([s.ms for s in execs])
        m["query.fetch.jobs"] = _mean([len(js) for js in ejobs])
        m["query.fetch.tasks"] = _mean([sum(j.tasks for j in js) for js in ejobs])
        m["query.fetch.no_job_ms"] = _mean([no_job_ms(s, js) for s, js in zip(execs, ejobs)])
        m["query.fetch.rows_scanned_per_row_returned"] = sum(
            stage_sum(js, "input_records") for js in ejobs
        ) / max(sum(s.attrs.get("rows", 0) for s in execs), 1)
    m["query.fetch_multi.exec_ms"] = _mean([s.ms for s in by_name["query.fetch_multi"]])

    # maintenance
    for op in ("compact", "refresh_stats", "vacuum"):
        m[f"database.{op}.wall_ms"] = _mean([s.ms for s in by_name[f"database.{op}"]])
    compacts = by_name["database.compact"]
    if compacts:
        m["database.compact.bytes_rewritten"] = sum(
            c.attrs.get("bytes", 0)
            for s in compacts
            for c in subtree(spans, s.id)
            if c.name == "database.write_segment"
        ) / len(compacts)
    m["database.segments_per_epoch"] = _mean(segments_per_epoch)

    # streaming: per-trigger phases from StreamingQuery.recentProgress
    if progress:
        for p in STREAM_PHASES:
            m[f"streaming.{p}_ms"] = statistics.median(pr["durationMs"].get(p, 0) for pr in progress)
        m["streaming.batches"] = len(progress)

    for c in CURATE_CALLS:
        calls = by_name[f"functions.{c}"]
        if calls:
            cj = [sub_jobs(s) for s in calls]
            m[f"functions.{c}.wall_ms"] = _mean([s.ms for s in calls])
            m[f"functions.{c}.jobs"] = _mean([len(js) for js in cj])
            m[f"functions.{c}.task_cpu_ms"] = sum(stage_sum(js, "cpu_ns") for js in cj) / 1e6 / len(calls)
            m[f"functions.{c}.shuffle_bytes"] = sum(stage_sum(js, "shuffle_write_bytes") for js in cj) / len(calls)

    # layer rollups: self time, and GC / spill / job-free time of the jobs
    # each span launched itself
    for s in spans_in:
        if s.id == root:
            continue
        if s.layer in ("fs", "manifest"):
            m[f"{s.layer}.self_ms"] += selfs[s.id] / ops
        elif s.layer in JOB_LAYERS:
            js = direct.get(s.id, [])
            m[f"{s.layer}.self_ms"] += selfs[s.id] / ops
            m[f"{s.layer}.gc_ms"] += stage_sum(js, "gc_ms") / ops
            m[f"{s.layer}.spill_bytes"] += (stage_sum(js, "spill_mem_bytes") + stage_sum(js, "spill_disk_bytes")) / ops
            kids = [c for c in spans_in if c.parent == s.id]
            busy = union_ms(
                [(c.start, c.end) for c in kids]
                + [(max(a, s.start), min(b, s.end)) for a, b in job_intervals(js) if b > s.start and a < s.end]
            )
            m[f"{s.layer}.no_job_ms"] += max(s.ms - busy, 0.0) / ops

    r = spans[root]
    m["trace.accounted_frac"] = sum(selfs[i] for i in own if i != root) / r.ms
    m["trace.client_frac"] = selfs[root] / r.ms
    all_jobs = [j for s in spans_in for j in direct.get(s.id, [])]
    m["trace.no_job_frac"] = no_job_ms(r, all_jobs) / r.ms
    m["trace.overhead_frac"] = overhead_frac
    return m
