"""Per-query profiling harness for the optimization rounds (guide §1).

For each selected queries() entry, runs it exactly like bench.py (noop sink,
same session confs) and records:
  - build_sec: time spent inside fn(spark, sf_dir) — driver-side plan
    construction PLUS any internal actions (track/stream/collect phases)
  - sink_sec: time of the final noop write
  - jobs/stages/tasks: Spark job/stage/task counts via the status tracker
    (job-group scoped, so internal actions are included)
  - plan: .explain("formatted") of the returned DataFrame, written to
    plans/r14/<name>_<tag>.txt when --plans TAG is given

Usage:
  python scripts/profile_bench.py [--sf DIR] [--plans TAG] [--repeat N] [query ...]

Prints one JSON line per query and a sorted summary. Not part of the driver
contract — bench.py remains the only timed artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from kadiyadb_spark.session import get_spark


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    plans_tag = None
    repeat = 1
    names = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf":
            i += 1
            sf_dir = argv[i]
        elif a == "--plans":
            i += 1
            plans_tag = argv[i]
        elif a == "--repeat":
            i += 1
            repeat = int(argv[i])
        else:
            names.append(a)
        i += 1

    spark = get_spark(app_name="kadiyadb-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = entry_mod.queries()
    if not names:
        names = sorted(qs)
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r14")
    if plans_tag:
        os.makedirs(plans_dir, exist_ok=True)

    # warm like bench.py (abbreviated): parquet footers + python workers
    for tbl in ("events", "documents", "embeddings", "lineitem", "orders"):
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").count()

    def _noop(batches):
        for b in batches:
            yield b

    spark.range(0, 256, 1, sc.defaultParallelism).mapInPandas(_noop, schema="id long").count()

    results = []
    for name in names:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        best = None
        for r in range(repeat):
            group = f"prof_{name}_{r}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                print(f"{name} FAILED: {e}", file=sys.stderr)
                sc.setJobGroup(None, None)
                break
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for jid in job_ids:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None and si.numTasks > 0 and si.numActiveTasks + si.numCompletedTasks + si.numFailedTasks > 0:
                        n_stages += 1
                        n_tasks += si.numTasks
            rec = {
                "name": name,
                "build_sec": round(t1 - t0, 3),
                "sink_sec": round(t2 - t1, 3),
                "total_sec": round(t2 - t0, 3),
                "jobs": len(job_ids),
                "stages_run": n_stages,
                "tasks": n_tasks,
            }
            if best is None or rec["total_sec"] < best["total_sec"]:
                best = rec
            if plans_tag and r == 0:
                try:
                    plan = df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                    )
                    # Provenance header (VERDICT r13 item 8: a stale dump
                    # committed as evidence) — records the commit + dirty
                    # flag the dump was generated at, so a reviewer can
                    # check it matches the HEAD it claims to describe.
                    import subprocess

                    try:
                        head = subprocess.run(
                            ["git", "rev-parse", "--short", "HEAD"],
                            capture_output=True, text=True, timeout=10,
                        ).stdout.strip()
                        dirty = bool(subprocess.run(
                            ["git", "status", "--porcelain", "-uno"],
                            capture_output=True, text=True, timeout=10,
                        ).stdout.strip())
                        prov = f"-- generated at {head}{' (dirty tree)' if dirty else ''}\n"
                    except Exception:  # noqa: BLE001 - provenance best-effort
                        prov = ""
                    with open(os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w") as f:
                        f.write(prov + plan)
                except Exception as e:  # noqa: BLE001
                    print(f"{name}: plan capture failed: {e}", file=sys.stderr)
            sc.setJobGroup(None, None)
            spark.catalog.clearCache()
        if best is not None:
            results.append(best)
            print(json.dumps(best, separators=(",", ":")), flush=True)

    results.sort(key=lambda r: -r["total_sec"])
    print("\n== slowest first ==")
    for r in results:
        print(
            f"{r['name']:34s} {r['total_sec']:7.2f}s  build={r['build_sec']:6.2f}"
            f" sink={r['sink_sec']:6.2f}  jobs={r['jobs']:3d} stages={r['stages_run']:3d} tasks={r['tasks']:5d}"
        )
    total = sum(r["total_sec"] for r in results)
    print(f"TOTAL {total:.2f}s over {len(results)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
