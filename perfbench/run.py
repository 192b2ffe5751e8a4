"""Track/Fetch benchmark runner.

    python3 perfbench/run.py --workload {ingest,fetch,curate} \\
        --seed N --seconds S --trace {0,1}

Run from a checkout of the repository. Prints one line per measured
metric, then, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero without a result when the library is not
importable or a workload crashes. Everything it writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import perfbench as a package from the checkout root, never its files
# as top-level modules
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "aux_p50_ms": "ms",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
}
OVERHEAD_PAIRS = 2


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "fetch", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure(work: str, env: dict, trace: bool) -> None:
    """Session settings of the benchmark itself, set before the JVM starts."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = env["driver_memory"]
    os.environ["MALLOC_ARENA_MAX"] = "2"
    conf = dict(env["spark_conf"])
    conf["spark.local.dir"] = local
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:" + os.path.join(work, "eventlog")
    java = f"{env['driver_java_options']} -Djava.io.tmpdir={tmp}"
    args = [a for k, v in sorted(conf.items()) for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", java, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 15
        while any(_alive(k) for k in kids) and time.monotonic() < deadline:
            time.sleep(0.1)
        for k in kids:
            if _alive(k):
                os.kill(k, signal.SIGKILL)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _overhead_frac(tracer, probe) -> float:
    """Tracing overhead on one representative operation: paired untraced
    and traced runs, (median traced - median untraced) / median untraced.
    The event log is on for both, so its own cost is not included."""
    times: dict[bool, list[float]] = {False: [], True: []}
    probe()  # untimed: the first call after the workload can still be cold
    for i in range(2 * OVERHEAD_PAIRS):
        traced = i % 2 == 1
        if traced:
            tracer.install_layers()
        t = time.perf_counter()
        probe()
        times[traced].append(time.perf_counter() - t)
        if traced:
            tracer.uninstall()
    base = statistics.median(times[False])
    return (statistics.median(times[True]) - base) / base


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kadiyadb_spark")):
        print(f"perfbench: no kadiyadb_spark package in {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    t_begin = time.perf_counter()
    sys.path.insert(0, ROOT)
    from perfbench.hostnoise import MAX_SHARE, StealClock, undisturbed

    steal = StealClock().start()
    with open(os.path.join(HERE, "env.json")) as f:
        env = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _configure(work, env, bool(a.trace))
        import pyspark

        from kadiyadb_spark.session import get_spark
        from perfbench import ledger
        from perfbench.eventlog import parse
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS, Ctx, p50

        if pyspark.__version__ != env["spark_version"]:
            print(f"perfbench: Spark {pyspark.__version__}, env.json names {env['spark_version']}", file=sys.stderr)
        t_session = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{a.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_session
        tracer = Tracer(spark.sparkContext) if a.trace else None
        ctx = Ctx(spark, work, a.seed, a.seconds, tracer, steal)
        out = WORKLOADS[a.workload](ctx)
        setup_s = ctx.setup_end - t_begin
        overhead = 0.0
        if tracer is not None:
            tracer.uninstall()
            overhead = _overhead_frac(tracer, ctx.probe)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        _stop(spark)
        spark = None

        e2e = {
            "setup_s": setup_s,
            "op_p50_ms": p50(out.op) if out.op else 0.0,
            "aux_p50_ms": p50(out.aux) if out.aux else 0.0,
            "work_per_s": out.work_per_s,
            "peak_rss_mb": peak_rss_mb,
        }
        correct = ctx.failed == 0 and all(v > 0 for v in e2e.values())
        print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
              f"cpus={os.environ['SPARK_GRAFT_CPUS']} driver_memory={env['driver_memory']} spark={pyspark.__version__}")
        for k, v in e2e.items():
            print(f"  {k} = {v:.6g} {E2E_UNITS[k]}")
        for k, (v, unit) in out.named.items():
            print(f"  {k} = {v:.6g} {unit}")
        for kind, samples in (("op", out.op), ("aux", out.aux)):
            kept = undisturbed(samples)
            print(f"  {kind} samples ms, * disturbed, medians over {len(kept)} of {len(samples)}: "
                  + " ".join(f"{x.ms:.0f}{'' if x in kept else '*'}" for x in samples))
        print(f"  failed_frac = {ctx.failed / max(ctx.attempted, 1):.6g} ratio ({ctx.failed}/{ctx.attempted})")
        print(f"  host_steal_s = {steal.stolen_s():.3g} s (CPU time other guests took during the run; "
              f"a sample is disturbed above {MAX_SHARE:.0%} of the CPUs' time)")
        for err in ctx.errors:
            print(f"  error: {err}", file=sys.stderr)

        if a.trace:
            logs = os.listdir(os.path.join(work, "eventlog"))
            jobs = parse(os.path.join(work, "eventlog", logs[0]))
            layer = ledger.compute(
                tracer.spans, jobs, out.root, out.ops, out.events, out.progress,
                session_s, overhead, out.segments_per_epoch,
            )
            gap = ledger.accounting_error(layer)
            if gap is not None:
                print(f"  {gap}", file=sys.stderr)
                correct = False
            metrics = {k: {"value": v, "unit": ledger.UNITS[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
        return 0
    finally:
        steal.stop()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
