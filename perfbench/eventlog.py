"""Reader for Spark's JSON event log (``spark.eventLog.enabled``,
uncompressed). Keeps only what the per-layer ledger needs: each job's
interval and job group, and each completed stage's task
metric totals."""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# task-metric accumulator -> ledger name (times in ms, bytes, records)
STAGE_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_write_records",
}


@dataclass
class Stage:
    id: int
    tasks: int
    metrics: dict[str, int] = field(default_factory=dict)

    def get(self, name: str) -> int:
        return self.metrics.get(name, 0)


@dataclass
class Job:
    id: int
    start_ms: int
    end_ms: int | None = None
    group: str | None = None
    stage_ids: list[int] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    def total(self, name: str) -> int:
        return sum(s.get(name) for s in self.stages)

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)


def parse(path: str) -> list[Job]:
    """Jobs of the single-file log at ``path`` in submission order, each with its completed stages attached
    (stages a job skipped because their output was reused carry no
    metrics and are left out)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    id=ev["Job ID"],
                    start_ms=int(ev["Submission Time"]),
                    group=props.get("spark.jobGroup.id"),
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = int(ev["Completion Time"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = Stage(id=info["Stage ID"], tasks=int(info.get("Number of Tasks", 0)))
                for acc in info.get("Accumulables", []):
                    name = STAGE_METRICS.get(acc.get("Name"))
                    if name is not None:
                        st.metrics[name] = st.metrics.get(name, 0) + int(acc["Value"])
                stages[st.id] = st
    out = sorted(jobs.values(), key=lambda j: j.id)
    for j in out:
        j.stages = [stages[s] for s in j.stage_ids if s in stages]
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``s."""
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
