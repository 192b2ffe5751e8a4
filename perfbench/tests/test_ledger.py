"""Span arithmetic, job attribution, the event-log reader on a small
recorded log, and BENCHMARK.json's agreement with the runner."""

import json
import os

from perfbench import ledger
from perfbench.eventlog import Job, parse, union_ms
from perfbench.tracing import Span, attribute_jobs, no_job_ms, self_ms, subtree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def span(i, name, start, end, parent=None, jobs=True, thread=1):
    return Span(i, name, start, parent, thread, jobs, end=end)


def test_union_of_intervals():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_ms([(20, 30), (0, 40)]) == 40


def test_self_time_subtracts_children_and_adds_up():
    spans = [
        span(0, "bench.measure", 0, 100),
        span(1, "database.track", 10, 40, parent=0),
        span(2, "fs.exists", 20, 30, parent=1, jobs=False),
        span(3, "database.fetch", 50, 90, parent=0),
        span(4, "query.fetch", 60, 80, parent=3),
    ]
    st = self_ms(spans)
    assert st == {0: 30, 1: 20, 2: 10, 3: 20, 4: 20}
    assert sum(st.values()) == spans[0].ms
    assert [s.id for s in subtree(spans, 3)] == [3, 4]


def test_self_time_unions_overlapping_children():
    # a callback-thread child overlapping a main-thread child
    spans = [
        span(0, "streaming.stream", 0, 100),
        span(1, "database.track", 10, 50, parent=0),
        span(2, "database.track", 40, 60, parent=0, thread=2),
    ]
    assert self_ms(spans)[0] == 50


def _accounting(spans):
    m = ledger.compute(spans, [], 0, 1, 0, [], 1.0, 0.0, [])
    return m, ledger.accounting_error(m)


def test_layer_spans_covering_the_measured_phase_account_for_it():
    m, err = _accounting([
        span(0, "bench.measure", 0, 100),
        span(1, "database.track", 0, 55, parent=0),
        span(2, "fs.exists", 20, 30, parent=1, jobs=False),
        span(3, "query.fetch", 57, 100, parent=0),
    ])
    assert m["trace.accounted_frac"] == 0.98 and m["trace.client_frac"] == 0.02
    assert err is None


def test_a_gap_no_span_covers_fails_the_accounting():
    # 40 ms of the measured phase run outside every layer span
    m, err = _accounting([
        span(0, "bench.measure", 0, 100),
        span(1, "database.track", 0, 30, parent=0),
        span(2, "query.fetch", 70, 100, parent=0),
    ])
    assert m["trace.accounted_frac"] == 0.6 and m["trace.client_frac"] == 0.4
    assert err is not None


def test_spans_overlapping_across_threads_fail_the_accounting():
    m, err = _accounting([
        span(0, "bench.measure", 0, 100),
        span(1, "streaming.stream", 0, 100, parent=0),
        span(2, "database.track", 0, 60, parent=1),
        span(3, "database.track", 30, 90, parent=1, thread=2),
        span(4, "database.track", 40, 90, parent=0, thread=3),
    ])
    assert m["trace.accounted_frac"] > 1 + ledger.ACCOUNTED_BOUND
    assert err is not None


def test_jobs_attributed_by_group_then_by_time():
    spans = [
        span(0, "bench.measure", 0, 100),
        span(1, "database.track", 10, 40, parent=0),
        span(2, "fs.listdir", 20, 30, parent=1, jobs=False),
        span(3, "streaming.stream", 50, 90, parent=0),
    ]
    jobs = [
        Job(0, 12, 18, group="pb1"),
        Job(1, 25, 28, group=None),  # inside fs.listdir, which launches none
        Job(2, 60, 70, group="stream-run-id"),
        Job(3, 95, 99, group=None),
    ]
    got = {sid: [j.id for j in js] for sid, js in attribute_jobs(spans, jobs).items()}
    assert got == {1: [0, 1], 3: [2], 0: [3]}
    assert no_job_ms(spans[1], jobs[:2]) == 30 - 9


def test_event_log_reader_on_recorded_log():
    jobs = parse(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    assert [j.id for j in jobs] == [0, 1, 3]
    j0, j1, j3 = jobs
    assert (j0.start_ms, j0.end_ms, j0.group) == (1792174394065, 1792174394610, "s1")
    assert j0.tasks == 2
    assert j0.total("input_records") == 1000
    assert j0.total("shuffle_write_records") == 6
    assert j0.total("shuffle_write_bytes") == 266
    assert j0.total("cpu_ns") == 237904769
    assert j0.total("gc_ms") == 20
    # stage 1 was skipped (its shuffle output was reused): no metrics
    assert j1.stage_ids == [1, 2] and [s.id for s in j1.stages] == [2]
    assert j1.total("input_records") == 0
    # a streaming micro-batch job carries the query's own run id as its group
    assert j3.group == "9871c1f3-9014-43b0-91ed-03ca94a90ad5"


def test_benchmark_json_matches_runner_and_ledger():
    from perfbench.run import E2E_UNITS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == ledger.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
