"""Spans around the calls into each library layer, recorded from outside
the library.

A span is ``(name, start, end, parent)``; its layer is the name's first
dotted part. ``Tracer.install_layers`` wraps the public and internal
entry points of the repo's modules (``fs``, ``manifest``, ``database``,
``ingest``, ``query``) for the traced run only and ``uninstall`` restores
them; the workloads open ``query``, ``streaming`` and ``functions`` spans
themselves around the calls that do the work (session start is timed
directly). Spans
that may launch Spark jobs set the job group to their id on the main
thread, so the event log ties each job to its innermost span.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlparse

from perfbench.eventlog import Job, union_ms

GROUP_PREFIX = "pb"
FS_METHODS = (
    "exists", "is_dir", "listdir", "list_files", "mkdirs",
    "delete", "copy", "rename", "read_text", "write_text",
)


def now_ms() -> float:
    """Wall clock in ms, the event log's time base."""
    return time.time() * 1000.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    thread: int
    jobs: bool
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return self.end - self.start


class _NullSpan:
    __slots__ = ("attrs",)

    def __init__(self):
        self.attrs = {}


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        yield _NullSpan()


class Tracer:
    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_thread = threading.get_ident()
        self._main_stack = self._stack()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sp: Span | None) -> None:
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", sp.name)

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Open a span. Spans on other threads (streaming callbacks) hang
        under the main thread's innermost open span."""
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        on_main = threading.get_ident() == self._main_thread
        with self._lock:
            sp = Span(len(self.spans), name, now_ms(), parent.id if parent else None, threading.get_ident(), jobs)
            self.spans.append(sp)
        st.append(sp)
        grouped = jobs and on_main and self.sc is not None
        if grouped:
            self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = now_ms()
            st.pop()
            if grouped:
                self._set_group(next((s for s in reversed(st) if s.jobs), None))

    # -- wrapping library entry points --------------------------------------
    def wrap(self, owner, attr: str, name: str, jobs: bool = False, after=None) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, raw))

    def install_layers(self) -> None:
        from kadiyadb_spark import database as dbm
        from kadiyadb_spark import manifest, query
        from kadiyadb_spark.fs import HadoopFS

        for m in FS_METHODS:
            self.wrap(HadoopFS, m, f"fs.{m}")
        self.wrap(manifest.GenLog, "read", "manifest.read")
        self.wrap(manifest.GenLog, "commit", "manifest.commit")
        db = dbm.Database
        for attr, name, after in (
            ("track", "database.track", None),
            ("track_stream_batch", "database.track", None),
            ("commit_cube_batch", "database.commit_cube_batch", None),
            ("_write_segment", "database.write_segment", _after_write_segment),
            ("_seg_stats", "database.stats", None),
            ("_commit_manifest", "database.commit", None),
            ("fetch", "database.fetch", None),
            ("fetch_multi", "database.fetch_multi", None),
            ("cube", "database.cube", None),
            ("_segment_paths", "database.prune", _after_segment_paths),
            ("_read_fold", "database.read_fold", None),
            ("maintain", "database.maintain", None),
            ("expire", "database.expire", None),
            ("compact", "database.compact", None),
            ("refresh_stats", "database.refresh_stats", None),
            ("vacuum", "database.vacuum", None),
        ):
            self.wrap(db, attr, name, jobs=True, after=after)
        # database.py binds these at import; Database.fetch_multi imports
        # query.fetch_multi at call time
        self.wrap(dbm, "track_batch", "ingest.track_batch", jobs=True)
        self.wrap(dbm, "fetch_df", "query.fetch.plan", jobs=True)
        self.wrap(query, "fetch_multi", "query.fetch_multi.plan", jobs=True)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)


def _local_path(uri: str) -> str:
    return urlparse(uri).path if uri.startswith("file:") else uri


def _parquet_files(uri: str) -> list[str]:
    p = _local_path(uri)
    try:
        return [os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]
    except FileNotFoundError:
        return []


def _after_write_segment(sp: Span, args, kwargs, out) -> None:
    db, (refs, _stats) = args[0], out
    files = [f for ref in refs.values() for f in _parquet_files(f"{db.cube_path}/{ref}")]
    sp.attrs["files"] = len(files)
    sp.attrs["bytes"] = sum(os.path.getsize(f) for f in files)


def _after_segment_paths(sp: Span, args, kwargs, out) -> None:
    m = args[1]
    epochs = args[2] if len(args) > 2 else kwargs.get("epochs")
    sp.attrs["kept"] = len(out)
    sp.attrs["candidates"] = sum(
        len(refs) for e, refs in m["segments"].items() if epochs is None or e in epochs
    )
    sp.attrs["files"] = sum(len(_parquet_files(p)) for p in out)


# -- span arithmetic ------------------------------------------------------------
def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids = children(spans)
    return {
        s.id: s.ms
        - union_ms([(max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id] if c.end > s.start and c.start < s.end])
        for s in spans
    }


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Jobs per span. A job carrying one of our job groups belongs to that
    span; any other job (streaming micro-batch threads, callbacks) to the
    latest-starting job-launching span open at its submission."""
    by_group = {f"{GROUP_PREFIX}{s.id}": s for s in spans}
    launching = [s for s in spans if s.jobs]
    out: dict[int, list[Job]] = defaultdict(list)
    for j in jobs:
        s = by_group.get(j.group or "")
        if s is None:
            open_ = [c for c in launching if c.start <= j.start_ms <= c.end]
            s = max(open_, key=lambda c: c.start) if open_ else None
        if s is not None:
            out[s.id].append(j)
    return out


def subtree(spans: list[Span], root: int) -> list[Span]:
    kids = children(spans)
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(spans[sid])
        todo.extend(c.id for c in kids[sid])
    return out


def job_intervals(jobs: list[Job]) -> list[tuple[float, float]]:
    return [(j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None]


def no_job_ms(span: Span, jobs: list[Job]) -> float:
    """Wall time of ``span`` during which none of ``jobs`` was running."""
    clipped = [(max(s, span.start), min(e, span.end)) for s, e in job_intervals(jobs) if e > span.start and s < span.end]
    return span.ms - union_ms(clipped)
