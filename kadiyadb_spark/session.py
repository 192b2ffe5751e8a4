"""SparkSession factory with scale-minded defaults.

Defaults chosen for a large cluster (AQE on, skew-join handling, Arrow for
the few pandas-UDF paths) but parameterized so local[N] tests stay fast.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Reference timestamps are uint64 nanoseconds (SURVEY §1.3); the driver's
# events.parquet stores TIMESTAMP(NANOS) which vanilla Spark rejects.
# Reading nanos as LongType keeps full precision and is the documented
# escape hatch (SPARK-40819).
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _default_driver_mem() -> str:
    """Local-mode heap sized per concurrent task slot, not per lone driver.

    local[N] runs the driver AND all N executor task slots in ONE JVM; a
    fixed 16g at N=32 is ~0.5 GB per slot — measured (r13, guide §5): after
    a ~250-query bench session the old gen saturates and big-allocation
    operators (exact-percentile ObjectHashAggregate, binary Arrow batches)
    go GC-bound, reading 2-6x their isolated time (approx_quantile >=10.7 s
    in three 16 GB runs vs 2.7 s at 32 GB, full-run total 482 -> 430 s).
    Production executors are separate JVMs sized per slot; mirror that:
    1 GB per local core, floor at the old 16g default, capped at a quarter
    of system RAM so small hosts are unchanged. SPARK_DRIVER_MEM overrides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        cores = int(cpus) if cpus else (os.cpu_count() or 16)
    except ValueError:
        cores = os.cpu_count() or 16
    try:
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    except (ValueError, OSError, AttributeError):
        ram_gb = 64
    return f"{max(16, min(cores, ram_gb // 4))}g"


def get_spark(
    app_name: str = "kadiyadb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS|*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    # Preload numpy/pandas/pyarrow in the worker DAEMON so forked workers
    # inherit them copy-on-write (kdb_pydaemon.py at the repo root has the
    # measurements; top-level so `python -m` never executes the package
    # __init__ — ADVICE r13). The daemon is spawned with `python -m`, so
    # the repo root must be on the env PYTHONPATH of the JVM (set before
    # launch) and on the workers' PYTHONPATH (executorEnv) — both merged
    # into the daemon's path by PythonWorkerFactory.
    #
    # LOCAL masters only (ADVICE r13): on a real cluster the executors
    # need not have this repo importable (UDFs ship via cloudpickle), so
    # forcing a custom daemon module or a driver-local absolute
    # PYTHONPATH there would fail every Python worker that the stock
    # daemon would have served. The preload is a local-mode worker-pool
    # optimization; cluster deployments that install the package can opt
    # in with spark.python.daemon.module through spark-submit conf.
    local_master = master.startswith("local")
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if local_master and not _session_running():
        # Mutating os.environ is only useful when THIS call launches the
        # JVM; a pre-existing session ignores the config, and the leak
        # into later subprocesses is avoidable (ADVICE r13).
        env_pp = os.environ.get("PYTHONPATH", "")
        if pkg_root not in env_pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + env_pp if env_pp else "")
            )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(NANOS_AS_LONG, "true")
        # The ts normalization boundary (schema.ts_ns_expr) interprets
        # TIMESTAMP_NTZ wall-clocks as UTC; a non-UTC session tz would skew
        # the NTZ->TIMESTAMP cast and diverge from DuckDB's epoch_ns().
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor: the default 1MB floor collapses a ~2MB
        # window/agg shuffle to 2 post-shuffle partitions, serializing the
        # (non-codegen, per-row) WindowExec onto 2 cores — measured 5.9s ->
        # 2.2s on the sf0.1 z-score window by lowering the floor. At real
        # scale the floor never binds (100TB shuffles coalesce by the
        # advisory size / parallelismFirst target long before 32KB), so
        # this only changes the small-shuffle regime, where idle cores —
        # not per-partition overhead — are the dominant cost.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "32KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # local[N] runs executors inside the driver JVM: size the heap for N
        # concurrent tasks, not for a lone driver (see _default_driver_mem).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
    )
    if local_master:
        builder = (
            builder.config("spark.python.daemon.module", "kdb_pydaemon")
            .config(
                "spark.executorEnv.PYTHONPATH",
                os.environ.get("PYTHONPATH", pkg_root),
            )
            # Above this many paths a scan lists its leaf directories in a
            # Spark job instead of on the driver (default 32). Locally that
            # job runs on the same cores as the driver and only adds job
            # overhead: a fetch over a 1 d or 7 d window names more than 32
            # segment directories, and listing them in a job made such a
            # fetch take 623 ms p50 instead of 317 ms (22 fetches each,
            # interleaved, over the perfbench fetch store, 4 cpus).
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        )
    return builder.getOrCreate()


def _session_running() -> bool:
    """True when this process already runs a SparkSession on ANY thread
    — the JVM default session. ``getActiveSession`` is thread-local, so a
    session started on another thread would read as absent."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return False
    return bool(sc._jvm.org.apache.spark.sql.SparkSession.getDefaultSession().isDefined())


def spread(df, min_partitions: int | None = None):
    """Repartition a DataFrame UP to the session's parallelism if the scan
    produced fewer partitions (a small parquet file arrives as 1 partition
    and serializes every downstream map stage onto one core; a parquet row
    group cannot be split, so maxPartitionBytes can't fix this). Never
    shrinks: a table already wider than the target is left alone, so at real
    scale this is a no-op."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from input file sizes instead of
    # df.rdd.getNumPartitions(): the RDD conversion rebuilds the physical
    # plan per call. maxPartitionBytes-sized splits over-estimate the real
    # partition count (row groups can't split), so this only errs toward
    # leaving an already-wide table alone — the safe direction.
    files = df.inputFiles()
    if files:
        local = [f[len("file:") :] if f.startswith("file:") else f for f in files]
        try:
            total = sum(os.path.getsize(p) for p in local)
        except OSError:
            total = None
        if total is not None:
            max_pb = 128 << 20  # spark.sql.files.maxPartitionBytes default
            est = max(len(files), -(-total // max_pb))
            return df.repartition(target) if est < target else df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs this engine needs on a session we did not
    create (e.g. the verification driver's). Safe to call repeatedly."""
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    return spark
