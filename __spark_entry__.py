"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator of kadiyadb_spark (SURVEY.md
§2 inventory + north-star LLM-pipeline ops); ``oracle_sql()`` holds the
DuckDB-equivalent ANSI SQL over the same parquet views. Column names and
types are aligned on both sides (driver sorts columns by name and
value-hashes); double outputs are rounded to 4dp on both sides to absorb
FP summation-order noise.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kadiyadb_spark import fetch, track_batch
from kadiyadb_spark.functions import dedup as D
from kadiyadb_spark.functions import multimodal as M
from kadiyadb_spark.functions.num import exact_avg4_expr, exact_sum4_expr, round4_expr
from kadiyadb_spark.functions import similarity as SIM
from kadiyadb_spark.functions import skew as SK
from kadiyadb_spark.functions import text as TX
from kadiyadb_spark.schema import normalize_ts
from kadiyadb_spark.session import ensure_engine_confs, spread

from kadiyadb_spark.oracles import all_oracles
from kadiyadb_spark.oracles.fragments import (  # the oracle SQL builds from the SAME constants
    _BPE_MERGES,
    _RFM_NOW,
    DUR,
    RES,
    SEC,
    T0,
    T_END,
    WEEK0,
    WEEK1,
)


def _stage_stream_events(sf_dir: str, tmp: str, tag: str = "evt") -> None:
    """Stage the events fixture as a streaming file-source directory.

    The driver fixtures ship events.parquet as a single FILE; derived
    fixtures (scripts/build_sf1.py) are Spark-written DIRECTORIES of part
    files. The file source needs a flat directory either way (it neither
    accepts a bare file nor recurses into nested dirs — verify SKILL
    gotchas), so copy the file, or each part file, flat into tmp/events."""
    import glob as _glob
    import os
    import shutil

    src = f"{sf_dir}/events.parquet"
    os.makedirs(f"{tmp}/events", exist_ok=True)
    if os.path.isdir(src):
        for i, p in enumerate(sorted(_glob.glob(f"{src}/part-*"))):
            shutil.copy(p, f"{tmp}/events/{tag}-{i:05d}.parquet")
    else:
        shutil.copy(src, f"{tmp}/events/{tag}.parquet")


# Per-process memo of INFERRED fixture schemas, keyed by path (r14, guide
# §6): every bare spark.read.parquet pays a schema-inference job (a driver
# footer read, ~0.1 s locally) and the fixture tables are opened hundreds
# of times across a bench/oracle run. This caches METADATA only — the
# schema Spark itself would infer, never data or results; every query
# still scans the parquet at execution.
_FIXTURE_SCHEMAS: dict = {}


def _fixture_read(spark: SparkSession, path: str) -> DataFrame:
    sch = _FIXTURE_SCHEMAS.get(path)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _FIXTURE_SCHEMAS[path] = sch
    return spark.read.schema(sch).parquet(path)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_engine_confs(spark)
    df = _fixture_read(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Event-time boundary: fixtures have stored ts as TIMESTAMP(NANOS)
        # (read long via nanosAsLong) in one generation and timestamp[us]
        # (TIMESTAMP_NTZ) in another. normalize_ts adapts to whatever the
        # parquet footer says and emits the engine's long-ns convention, so
        # every downstream `ts % <ns>` expression is type-stable.
        df = normalize_ts(df, "ts")
    if name in ("documents", "embeddings", "events"):
        # Compute-heavy narrow tables: a small file scans as 1 partition,
        # serializing shingling/hashing/vector math onto one core. spread()
        # never shrinks, so it is a no-op once the table is genuinely large.
        df = spread(df)
    return df


def _events_range(spark: SparkSession, sf_dir: str, lo_ns: int, hi_ns: int) -> DataFrame:
    """Events restricted to [lo_ns, hi_ns), with the range predicate pushed
    to the parquet scan IN THE SOURCE TYPE (schema.ts_range_pred) before ts
    normalization — the selective-scan path: spread()'s repartition is a
    shuffle barrier, so _t() + filter would read the whole table first."""
    ensure_engine_confs(spark)
    raw = _fixture_read(spark, f"{sf_dir}/events.parquet")
    from kadiyadb_spark.schema import ts_range_pred

    return normalize_ts(raw.filter(ts_range_pred(raw.schema["ts"].dataType, "ts", lo_ns, hi_ns)))


def _events_stream(spark: SparkSession, events_dir: str, sample: str) -> DataFrame:
    """readStream over an events directory using the ACTUAL schema of the
    parquet files (from a batch-read of ``sample``), with ts normalized to
    long-ns. Never pins LongType over a timestamp column: the file source
    would silently hand back raw int64 MICROseconds and every ns constant
    downstream would be 1000x off without any error."""
    actual = spark.read.parquet(sample).schema
    evs = spark.readStream.schema(actual).parquet(events_dir)
    return normalize_ts(evs, "ts")


def _cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return track_batch(
        _t(spark, sf_dir, "events"),
        fields=["event_type", "user_id"],
        ts_col="ts",
        total_col="value",
        resolution=RES,
        duration=DUR,
    )


def _round_doubles(df: DataFrame, cols: list[str]) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, round4_expr(F.col(c)))
    return out


# --------------------------------------------------------------------------
# kadiyadb core (SURVEY §2 O1-O7)
# --------------------------------------------------------------------------


def q_track_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3: full cube build with write-time prefix rollup."""
    c = _cube(spark, sf_dir).withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def q_fetch_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O6: exact-path fetch, dense zero-filled, whole month."""
    r = fetch(_cube(spark, sf_dir), T0, T_END, ["click", "7"], RES, DUR)
    return _round_doubles(r, ["total"])


def q_fetch_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: wildcard fetch ['click','*'] over one week."""
    r = fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR)
    return _round_doubles(r, ["total"])


def q_fetch_rollup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 rollup: depth-1 prefix fetch reads pre-summed parents."""
    r = fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["purchase"], RES, DUR)
    return _round_doubles(r, ["total"])


def q_fetch_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta()/rate() over the dense wildcard fetch — the counter math every
    metrics engine layers on a store like the reference's: per-series slot
    difference and per-second rate, null on each series' first slot. Both
    engines difference the 4dp-ROUNDED totals, so the window arithmetic is
    bit-identical (query.py:series_delta; one series-keyed window shuffle)."""
    from kadiyadb_spark.query import series_delta

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_delta(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], resolution=RES
    )


def q_fetch_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of interior zero-fill gaps in the dense fetch:
    cnt=0 slots between two observed slots get the line between them;
    leading/trailing gaps keep the zero-fill (nothing to anchor). Two
    ignoreNulls window passes over ONE (series, bucket) sort
    (query.py:interpolate_series)."""
    from kadiyadb_spark.query import interpolate_series

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return interpolate_series(
        r.select("f1", "f2", "bucket", "total", "cnt"), ["f1", "f2"]
    )


def q_fetch_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg_over_time: trailing 5-slot moving average per series over the
    dense fetch — the dashboard smoothing pass; one series-keyed window
    (query.py:series_smooth), averaging the 4dp-rounded totals in frame
    order on both engines."""
    from kadiyadb_spark.query import series_smooth

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_smooth(r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], 5)


def q_fetch_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL offset: each slot vs the SAME series one day earlier (1440
    1-minute slots) — dense zero-fill makes row distance slot distance, so
    a window lag is exact: no self-join (query.py:series_offset). First-day
    slots keep null baseline/delta/ratio."""
    from kadiyadb_spark.query import series_offset

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_offset(r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], 1440)


def q_fetch_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the dense wildcard fetch 10:1 (1m slots -> 10m slots) —
    the long-retention storage pass; exact fold of the decomposable
    (total, cnt) pair plus min/max/observed census, ONE shuffle keyed by
    (series, coarse bucket) (query.py:series_downsample)."""
    from kadiyadb_spark.query import series_downsample

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_downsample(r, ["f1", "f2"], factor=10, resolution=RES)


def q_fetch_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL increase() with counter-reset handling over the dense fetch:
    backwards-moving totals count their full new value (a restarted
    counter), everything else is a plain delta; cum_increase is the
    per-series running sum of adjusted deltas. Integer-scaled exact
    arithmetic end to end; one series-keyed window Exchange
    (query.py:series_increase)."""
    from kadiyadb_spark.query import series_increase

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_increase(r.select("f1", "f2", "bucket", "total"), ["f1", "f2"])


def q_fetch_group_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL group_left against the WRITE-TIME rollup
    (query.py:series_group_share): each (click, user) series' per-slot
    share of its f1 group, with the denominator read from the STORED
    depth-1 row — one scan over both depths, one (f1, bucket) window, no
    join, no recomputed aggregate. Born r10 -> gates inside the r10
    cap."""
    from kadiyadb_spark.query import series_group_share

    return series_group_share(
        _cube(spark, sf_dir), WEEK0, WEEK1, "click", duration=DUR
    )


def q_fetch_rule_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus rule-group evaluation END TO END in one scan
    (query.py:fetch_rule_group): three alerting rules — two depth-2
    (per-user clicks >= 50, purchases >= 100) and one depth-1 rollup
    (view volume >= 60 for 2 consecutive slots) — share one
    fetch_multi scan, then each rule's pending->firing runs evaluate
    with series_alerts' integer gaps-and-islands. Per-rule constants
    ride a map-side when-chain on the query label; one window Exchange
    after the breach filter. Born r10 -> gates inside the r10 cap."""
    from kadiyadb_spark.query import fetch_rule_group

    rules = {
        "hot_clicks": {"pattern": ["click", "*"], "threshold": 50.0, "for_slots": 1},
        "hot_purchase": {"pattern": ["purchase", "*"], "threshold": 100.0, "for_slots": 1},
        "view_surge": {"pattern": ["view"], "threshold": 60.0, "for_slots": 2},
    }
    return fetch_rule_group(_cube(spark, sf_dir), WEEK0, WEEK1, rules)


def q_fetch_rule_group_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-group evaluation beyond above-threshold (VERDICT r12 item 8
    stretch): a BELOW rule — view volume <= 40 for 2 consecutive slots,
    evaluated on the DENSE frame so missing slots zero-fill and breach
    (the reference's O2 zero-fill read semantics) — and an ABSENT rule —
    PromQL absent(): >= 3 consecutive slots with no click from user 7 at
    all (series columns and peak NULL). Same one-scan fetch_multi core as
    fetch_rule_group; the below subset adds one (query, series, bucket)
    Exchange for its grid join. Born r13."""
    from kadiyadb_spark.query import fetch_rule_group

    rules = {
        "quiet_views": {
            "pattern": ["view"], "threshold": 40.0, "for_slots": 2, "above": False,
        },
        "missing_user7_clicks": {
            "pattern": ["click", "7"], "absent": True, "for_slots": 3,
        },
    }
    return fetch_rule_group(_cube(spark, sf_dir), WEEK0, WEEK1, rules)


def q_fetch_irate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL irate()/idelta() — the INSTANT rate between the last two
    OBSERVED slots with reset handling and true gap-time denominators
    (query.py:series_irate): zero-filled gap slots don't participate, so
    after a 10-slot gap the denominator is 10 slots. Sparse output per
    observed slot; idelta exact scaled-long, irate one fixed-order
    double expression rounded 4dp; gap_slots exposes staleness. Born
    r10 -> gates inside the r10 cap."""
    from kadiyadb_spark.query import series_irate

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_irate(
        r.select("f1", "f2", "bucket", "total", "cnt"), ["f1", "f2"]
    )


def q_fetch_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL SUBQUERY — max_over_time(increase(m[1m])[1h:5m]): the
    "worst 5-minute burst in the trailing hour" alerting composition
    (query.py:series_subquery). Reset-adjusted fine increases fold to 5m
    steps (telescoping sum), a trailing 12-step window takes the max —
    every stage exact scaled longs, one /1e4 per output. Plan: one
    series-keyed window Exchange + one (series, step) fold + one step
    window. Born r10 -> gates inside the r10 cap."""
    from kadiyadb_spark.query import series_subquery

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_subquery(
        r.select("f1", "f2", "bucket", "total"),
        ["f1", "f2"],
        step_slots=5,
        range_steps=12,
    )


def q_fetch_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL deriv()/predict_linear(): per slot, the least-squares line
    through the trailing 30 totals, as slope per second and the value one
    hour ahead — capacity planning's trend query. Every regression sum is
    an exact integer window fold (the rn-shift identity); slope/prediction
    are single double expressions over exact operands, identical IEEE both
    engines (query.py:series_predict_linear)."""
    from kadiyadb_spark.query import series_predict_linear

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_predict_linear(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"],
        window_slots=30, horizon_slots=60, resolution=RES,
    )


def q_fetch_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL resets()/changes() over the dense fetch: per slot, counter
    restarts (decreases) and value changes within the trailing hour (60
    1-minute slots) — the alerting primitives behind "restarted N times"
    and flap detection. Scaled-long comparisons + 0/1 integer frame sums:
    engine-default-free at any parallelism; one series-keyed window
    Exchange (query.py:series_resets_changes)."""
    from kadiyadb_spark.query import series_resets_changes

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_resets_changes(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], window_slots=60
    )


def q_fetch_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """absent_over_time made actionable: contiguous never-written slot
    runs per series over the dense week fetch, as half-open
    [gap_start, gap_end) + slot count — "this probe sent nothing from
    02:17 to 02:43". Dense zero-fill turns absence into cnt=0 rows, so
    gaps-and-islands is exact integer arithmetic (slot index minus
    per-series rank is constant within a run); the groupBy shuffles ONLY
    absent slots (query.py:series_gaps)."""
    from kadiyadb_spark.query import series_gaps

    r = fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR)
    return series_gaps(
        r.select("f1", "f2", "bucket", "cnt"), ["f1", "f2"], resolution=RES
    )


def q_fetch_last_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL last_over_time + staleness: per slot, the most recent WRITTEN
    (cnt>0) total within the trailing hour and how many slots ago it
    landed — the gauge carry-forward + "silent for N minutes" alert. The
    carried value is a positional ignore-nulls pick over exact scaled
    longs (no accumulation), the age a row_number subtraction; one
    series-keyed window Exchange (query.py:series_last_over_time)."""
    from kadiyadb_spark.query import series_last_over_time

    r = fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR)
    return series_last_over_time(
        r.select("f1", "f2", "bucket", "total", "cnt"), ["f1", "f2"], window_slots=60
    )


def q_fetch_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL holt_winters(v, 0.3, 0.1): per-series double exponential
    smoothing (level + trend) over one day of the dense fetch. The
    sequential recursion runs as one Arrow applyInPandas kernel per
    series with state RE-QUANTIZED to scaled longs at every step, so the
    DuckDB RECURSIVE CTE twin replaying the same rule is bit-identical —
    the third iterative algorithm value-checked cross-engine
    (query.py:series_holt_winters)."""
    from kadiyadb_spark.query import series_holt_winters

    day1 = WEEK0 + 24 * 3600 * SEC
    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, day1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_holt_winters(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], sf=0.3, tf=0.1
    )


def q_fetch_quantile_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL quantile_over_time(0.75, v[30m]) + min/max_over_time riding
    the same frame: per slot, the interpolated p75 / min / max of the
    trailing 30 totals — the p99-latency panel shape. Dyadic phi over
    integer-scaled longs makes the type-7 interpolation exactly
    representable, so any engine's formula shape yields bit-identical
    doubles (query.py:series_quantile_over_time); one series-keyed window
    Exchange."""
    from kadiyadb_spark.query import series_quantile_over_time

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_quantile_over_time(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"],
        phi=0.75, window_slots=30,
    )


def q_fetch_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly: day 7 of the dense week scored against
    the minute-of-day profile of days 1-6 — 'is 09:30 today abnormal FOR
    a 09:30'. Baseline folds exact scaled longs (S1/S2/min with the
    re-centered sample variance), z is one double expression over exact
    operands; one baseline groupBy + one same-keyed join
    (query.py:series_seasonal_anomaly)."""
    from kadiyadb_spark.query import series_seasonal_anomaly

    cube = _cube(spark, sf_dir)
    day6 = WEEK0 + 6 * 86400 * SEC
    base = fetch(cube, WEEK0, day6, ["click", "*"], RES, DUR)
    cur = fetch(cube, day6, WEEK1, ["click", "*"], RES, DUR)
    cols = ["f1", "f2", "bucket", "total"]
    return series_seasonal_anomaly(
        cur.select(*cols), base.select(*cols), ["f1", "f2"],
        period_slots=1440, resolution=RES,
    )


def q_fetch_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences over the trailing hour: Q1/Q3, Q1-1.5*IQR /
    Q3+1.5*IQR and the breach flag — the distribution-free outlier band.
    Dyadic phis over integer frames make the quartiles multiples of 1/4
    and the fences of 1/8: bit-identical in any engine
    (query.py:series_outlier_fences)."""
    from kadiyadb_spark.query import series_outlier_fences

    r = fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR)
    return series_outlier_fences(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], window_slots=60
    )


def q_fetch_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST anomaly via the modified z-score (0.6745·(x−median)/MAD,
    cutoff 3.5): median/MAD shrug off the outliers that inflate a
    mean/stddev baseline (one earlier spike masks the next for
    series_anomaly). Sorted-integer-array medians at fixed positions are
    dyadic-halves — exact in any engine; same one window Exchange
    (query.py:series_mad_anomaly)."""
    from kadiyadb_spark.query import series_mad_anomaly

    r = fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR)
    return series_mad_anomaly(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], window_slots=60
    )


def q_fetch_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal minute-of-day baseline over the dense week fetch: per
    series and slot-of-day, the exact mean / min / max across the seven
    days — the "typical day" band anomaly detectors compare against.
    Integer DIV+modulo slot math, exact integer-scaled mean, ONE groupBy
    shuffle (query.py:series_seasonal_profile)."""
    from kadiyadb_spark.query import series_seasonal_profile

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_seasonal_profile(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"],
        period_slots=1440, resolution=RES,
    )


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL histogram_quantile(0.9, ...) over le-bucketed value
    histograms per (event_type, day): first bucket whose cumulative count
    reaches phi*total, linear interpolation from the previous bound, +Inf
    bucket returns the highest finite bound (query.py:histogram_quantile).
    Counts are integers, so the only cross-engine FP ops are the phi
    multiply and one interpolation expression — hash-gateable."""
    from kadiyadb_spark.query import histogram_quantile

    ev = _t(spark, sf_dir, "events")
    day_ns = 24 * 3600 * SEC
    le = (
        F.when(F.col("value") <= 1.0, F.lit(1.0))
        .when(F.col("value") <= 5.0, F.lit(5.0))
        .when(F.col("value") <= 10.0, F.lit(10.0))
        .when(F.col("value") <= 50.0, F.lit(50.0))
        .when(F.col("value") <= 100.0, F.lit(100.0))
        .otherwise(F.lit(float("inf")))
    )
    buckets = (
        ev.withColumn("day", (F.col("ts") - F.col("ts") % F.lit(day_ns)).cast("long"))
        .groupBy("event_type", "day", le.alias("le"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return histogram_quantile(buckets, 0.9, ["event_type", "day"])


def q_fetch_histogram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_fraction([5, 50]) over the same le-bucket ladder as
    histogram_quantile — the CDF-side inverse (PromQL ships it for native
    histograms; this is the classic-bucket analog). Per-bucket overlap
    contributions quantize at 4dp and fold as scaled longs; the +Inf
    bucket counts toward the total but contributes no in-range mass
    (query.py:histogram_fraction)."""
    from kadiyadb_spark.query import histogram_fraction

    ev = _t(spark, sf_dir, "events")
    day_ns = 24 * 3600 * SEC
    le = (
        F.when(F.col("value") <= 1.0, F.lit(1.0))
        .when(F.col("value") <= 5.0, F.lit(5.0))
        .when(F.col("value") <= 10.0, F.lit(10.0))
        .when(F.col("value") <= 50.0, F.lit(50.0))
        .when(F.col("value") <= 100.0, F.lit(100.0))
        .otherwise(F.lit(float("inf")))
    )
    buckets = (
        ev.withColumn("day", (F.col("ts") - F.col("ts") % F.lit(day_ns)).cast("long"))
        .groupBy("event_type", "day", le.alias("le"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return histogram_fraction(buckets, 5.0, 50.0, ["event_type", "day"])


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by 3 rounds of
    integer-exact power iteration (the pagerank device applied to linear
    algebra): 4dp-quantized vectors, exact long/decimal folds per round,
    renormalization against the exact integer norm^2 — so the oracle
    unrolls the identical rounds as CTEs and the 64-row direction
    value-hash-gates with no tolerance
    (functions/similarity.py:power_iteration_top_pc)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.power_iteration_top_pc(emb, iters=3)


def q_fetch_stddev_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL stddev/stdvar_over_time over the dense fetch: trailing
    12-slot population volatility + window mean per slot. Exact long
    window sums (S1, S2) then ONE double expression per output — the
    engine-default-free windowed-variance construction
    (query.py:series_stddev_over_time)."""
    from kadiyadb_spark.query import series_stddev_over_time

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_stddev_over_time(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], window_slots=12
    )


def q_fetch_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus alerting-rule evaluation over the dense DEPTH-1 fetch
    (per-type totals across all users — the level alert rules watch):
    activity >= 0.01 sustained for 2+ consecutive minutes -> one row per
    firing run with pending/firing starts, half-open end, length and
    peak. Scaled-long condition compare + integer gaps-and-islands; only
    breaching slots shuffle (query.py:series_alerts)."""
    from kadiyadb_spark.query import series_alerts

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click"], RES, DUR), ["total"]
    )
    return series_alerts(
        r.select("f1", "bucket", "total"), ["f1"],
        threshold=0.01, for_slots=2, resolution=RES,
    )


def q_streaming_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous alerting: stream-ingest the events into a persisted
    cube, re-evaluating the rule (click activity >= 0.01 for 2+
    consecutive minutes in the week window) after every micro-batch into
    an exactly-once manifest-committed alert-state log. The drained
    state must equal the batch rule evaluation — gated against the SAME
    SQL as fetch_alerts (streaming/ingest.py:stream_alerts)."""
    import os
    import shutil
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database
    from kadiyadb_spark.streaming.ingest import read_alerts, stream_alerts

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_alerts_entry_")
    _stage_stream_events(sf_dir, tmp)
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day,
               fields=("event_type", "user_id")),
    )
    evs = _events_stream(spark, f"{tmp}/events", f"{sf_dir}/events.parquet")
    q = stream_alerts(
        evs, db, alerts_dir=f"{tmp}/alerts", checkpoint=f"{tmp}/ckpt",
        pattern=["click"], threshold=0.01, from_ts=WEEK0, to_ts=WEEK1,
        for_slots=2,
    )
    q.awaitTermination()
    return read_alerts(spark, f"{tmp}/alerts")


def q_fetch_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection over the dense fetch: each slot
    vs the mean/stddev of its preceding 12 slots (current excluded), flag
    at |z| >= 2. One series-keyed window shuffle
    (query.py:series_anomaly); both engines z-score the 4dp-rounded
    totals and compare the 4dp-rounded z, so the flag is deterministic
    cross-engine."""
    from kadiyadb_spark.query import series_anomaly

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_anomaly(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], window_slots=12, z_thresh=2.0
    )


def q_fetch_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM changepoint detection over the dense fetch
    (query.py:series_cusum): the first 12 slots set each series' reference
    mean, then the two-sided cumulative-deviation statistic flags
    sustained level shifts the point-anomaly family is blind to. Executed
    recurrence-free via the running-minimum identity (two O(1)/row window
    folds); exact scaled-integer deviations, so both engines replay the
    identical values. Born r09 post-cap -> leads the r10 gate (SURVEY
    16.8); locally gate-green (ORACLE_LOCAL r09 addendum)."""
    from kadiyadb_spark.query import series_cusum

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_cusum(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"],
        baseline_slots=12, threshold=5.0, drift=0.0,
    )


def q_fetch_binop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general PromQL binary op (a - b here: click-minus-error
    headroom per slot) on series_ratio's one-scan pivot shape —
    add/sub stay entirely in exact integer arithmetic
    (query.py:series_binop); null where either side is absent."""
    from kadiyadb_spark.query import series_binop

    return series_binop(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["click"], ["error"],
        op="sub", resolution=RES, duration=DUR,
    )


def q_fetch_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series algebra (PromQL a/b): per-slot error-to-click ratio from ONE
    cube scan — conditional-sum pivot on the bucket key, no self-join, no
    second scan (query.py:series_ratio); ratio null where clicks are
    absent/zero in the slot."""
    from kadiyadb_spark.query import series_ratio

    return series_ratio(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["error"], ["click"],
        resolution=RES, duration=DUR,
    )


def q_fetch_ratio_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series algebra over a WILDCARD fan-out (PromQL errors{*}/clicks{*}):
    per-user error-to-click ratio per slot — the '*' level is the join
    key, still ONE cube scan + ONE aggregation keyed by (user, bucket),
    no self-join (query.py:series_ratio_wildcard). Users with only one of
    the two roles in a slot keep nulls on the absent side."""
    from kadiyadb_spark.query import series_ratio_wildcard

    return series_ratio_wildcard(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["error", "*"], ["click", "*"],
        resolution=RES, duration=DUR,
    )


def q_fetch_topk_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style topk: the 10 heaviest (click, user) series by total
    over the week — one pushed-down scan, one series agg, and Spark's
    TakeOrderedAndProject top-K (never a full sort of all series;
    query.py:series_topk). Ties break on the series path."""
    from kadiyadb_spark.query import series_topk

    return series_topk(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], k=10,
        resolution=RES, duration=DUR,
    )


def q_fetch_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: range straddling an epoch boundary -> rows from two epochs."""
    b = T0 + 3600 * SEC  # epoch boundary at 01:00
    r = fetch(_cube(spark, sf_dir), b - RES, b + RES, ["click", "*"], RES, DUR)
    return _round_doubles(r, ["total"])


def q_rollup_read_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-print #7 (SURVEY §2): read-time rollup of full-depth series must
    equal the write-time prefix records. This entry computes the READ-time
    side from a rollup=False cube; its oracle is the WRITE-time depth-1
    aggregation — the gate itself checks the equivalence."""
    from kadiyadb_spark.query import rollup_at_read

    flat = track_batch(
        _t(spark, sf_dir, "events"),
        fields=["event_type", "user_id"],
        ts_col="ts",
        total_col="value",
        resolution=RES,
        duration=DUR,
        rollup=False,
    )
    r = rollup_at_read(flat, to_depth=1, max_depth=2).select(
        "epoch", "bucket", "f1", "total", "cnt"
    )
    return _round_doubles(r, ["total"])


def q_streaming_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING dead-letter quarantine: the same deterministically
    dirtied fixture flows through a Structured Stream into a database
    with rejects_dir set; each micro-batch's dropped rows land under an
    idempotent per-batch overwrite directory. The drained quarantine must
    equal the batch track_rejects census — gated against the IDENTICAL
    SQL (streaming/ingest.py:stream_track_raw + read_stream_rejects)."""
    import os
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database
    from kadiyadb_spark.streaming.ingest import read_stream_rejects, stream_track_raw

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_stream_rejects_")
    os.makedirs(f"{tmp}/events", exist_ok=True)
    raw = _fixture_read(spark, f"{sf_dir}/events.parquet")
    dirty = raw.select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None)).otherwise(F.col("ts")).alias("ts"),
        F.when(F.col("event_id") % 11 == 0, F.lit("*")).otherwise(F.col("event_type")).alias("event_type"),
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("long")).otherwise(F.col("user_id")).alias("user_id"),
        "value",
    )
    dirty.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events")
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    evs = _events_stream(spark, f"{tmp}/events", f"{tmp}/events")
    q = stream_track_raw(
        evs, db, checkpoint=f"{tmp}/ckpt", rejects_dir=f"{tmp}/rejects"
    )
    q.awaitTermination()
    return read_stream_rejects(spark, f"{tmp}/rejects").select(
        "event_id", "reject_reason"
    )


def q_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 streaming form, end-to-end: file-source Structured Stream ->
    foreachBatch merge-increment into a persisted epoch-partitioned cube ->
    read back. Checked against the SAME SQL oracle as the batch cube, so
    streaming ingestion is value-equivalent to batch Track."""
    import shutil
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database
    from kadiyadb_spark.streaming.ingest import stream_track_raw

    import os

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_stream_entry_")
    _stage_stream_events(sf_dir, tmp)
    # Daily epochs: hourly epochs over a month mean 720 tiny partition dirs
    # per cube write (see q_expire_retention).
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    evs = _events_stream(spark, f"{tmp}/events", f"{sf_dir}/events.parquet")
    q = stream_track_raw(evs, db, checkpoint=f"{tmp}/ckpt")
    q.awaitTermination()
    # tmp is intentionally left for the driver to read the lazy result;
    # a few MB per invocation under /tmp.
    c = db.cube().withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def q_streaming_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 streaming form, strategy 2 (the idiomatic one): watermarked
    windowed aggregation in update mode -> cumulative (total, cnt) per
    group -> REPLACE-merge sink. Gated against the same SQL oracle as batch
    track, proving the watermark+window+replace path lands on identical
    values (naturally idempotent under replay: cumulative rows overwrite)."""
    import shutil
    import tempfile

    import os

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database
    from kadiyadb_spark.streaming.ingest import stream_track_agg

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_stream_agg_entry_")
    _stage_stream_events(sf_dir, tmp)
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    evs = _events_stream(spark, f"{tmp}/events", f"{sf_dir}/events.parquet")
    q = stream_track_agg(evs, db, checkpoint=f"{tmp}/ckpt")
    q.awaitTermination()
    c = db.cube().withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def q_streaming_agg_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 streaming form, strategy 3 (bounded state, rewrite-free): append-
    mode watermarked window aggregation — each (bucket, prefix) group is
    emitted exactly once when the watermark closes its window, and the sink
    commits final rows through the atomic segment+hwm manifest swap (no
    merge, no epoch rewrite). Oracle = the batch cube restricted to windows
    the final watermark (max event time, delay 0) closed; the stream's tail
    buckets stay in state, deterministically absent."""
    import os
    import shutil
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database
    from kadiyadb_spark.streaming.ingest import stream_track_agg_append

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_stream_app_entry_")
    _stage_stream_events(sf_dir, tmp)
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    evs = _events_stream(spark, f"{tmp}/events", f"{sf_dir}/events.parquet")
    q = stream_track_agg_append(evs, db, checkpoint=f"{tmp}/ckpt", watermark="0 seconds")
    q.awaitTermination()
    c = db.cube().withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def _stage_sessionize_batches(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Two ORDERED micro-batch files that exercise cross-batch STRAGGLERS
    (VERDICT r12 item 1): batch a = events older than T_c = max_ts - 4h,
    MINUS a wide straggler stripe; batch b = that stripe plus the tail.
    With watermark_delay = 24h every stripe event is admitted in batch b
    (stripe_lo = M0 - 23h sits 1h above batch a's closing watermark
    M0 - 24h, where M0 = batch a's max ts), and at sf0.01 the stripe holds
    15 SUPER-GAP stragglers — in-watermark events more than one gap OLDER
    than their user's open-session start — the exact shape the pre-r13
    single-tuple kernel fused across a silent hole. Batch order is pinned
    by mtime (the file source sorts by modification time) and by name."""
    import os
    import shutil
    import time

    from kadiyadb_spark.schema import ts_ns_expr

    raw = _fixture_read(spark, f"{sf_dir}/events.parquet")
    tsn = ts_ns_expr(raw.schema["ts"].dataType, "ts")
    hour = 3600 * SEC
    # r14 (guide §1.2, fewer jobs/passes): the staging used to be FOUR
    # Spark jobs — two scalar aggs plus one coalesce(1) write per batch
    # file. The two batch files partition the input (b is exactly the
    # complement of a), so ONE partitioned write emits both files in a
    # single job; m0 (batch a's max ts, needed only inside the stripe
    # bounds) folds into that same job as a broadcast single-row agg
    # instead of its own collect. Identical file contents (same rows,
    # same single-file-per-batch layout); 4 jobs -> 2.
    mx = raw.agg(F.max(tsn)).collect()[0][0]
    tc = mx - 4 * hour
    m0 = F.col("_m0")
    lo, hi = m0 - 23 * hour, m0 - 45 * 60 * SEC
    is_stripe = (tsn >= lo) & (tsn < hi)
    m0df = raw.filter(tsn < tc).agg(F.max(tsn).alias("_m0"))
    split = (
        raw.crossJoin(F.broadcast(m0df))
        .withColumn(
            "_b",
            F.when((tsn < tc) & ~is_stripe, F.lit("a")).otherwise(F.lit("b")),
        )
        .select(*raw.columns, "_b")
    )
    stage = f"{tmp}/stage_batches"
    (
        split.repartition(F.col("_b"))
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(stage)
    )
    os.makedirs(f"{tmp}/events", exist_ok=True)
    now = time.time()
    for name, age in (("a", 60.0), ("b", 0.0)):
        bdir = f"{stage}/_b={name}"
        if not os.path.isdir(bdir):
            # an empty batch writes no _b=<name> dir: stage a schema-only
            # file so the stream still sees two ordered batch files
            raw.limit(0).coalesce(1).write.parquet(bdir)
        (pf,) = [p for p in os.listdir(bdir) if p.endswith(".parquet")]
        dst = f"{tmp}/events/{name}.parquet"
        shutil.copy(f"{bdir}/{pf}", dst)
        os.utime(dst, (now - age, now - age))
    shutil.rmtree(stage)


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState,
    EventTimeTimeout) gated by a REAL oracle: the emitted session set is a
    deterministic function of event time alone. State per user is the
    sorted gap-separated ISLANDS of its admitted events, so arrival order
    cannot change them, and an island is emitted exactly when the WATERMARK
    passes island_end + gap (timeout path; the final no-data micro-batch
    before availableNow terminates fires the rest). The fixture stages TWO
    micro-batches whose second delivers in-watermark stragglers — 15 of
    them (at sf0.01) more than one gap older than their user's open
    session, which must surface as their OWN sessions (VERDICT r12 item 1).
    The oracle is the batch gaps-and-islands sessionization minus only the
    islands whose timeout the final watermark (max event time - 24h delay)
    has not passed."""
    import os
    import shutil
    import tempfile

    from kadiyadb_spark.streaming.stateful import stream_sessionize

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_sess_entry_")
    _stage_sessionize_batches(spark, sf_dir, tmp)
    actual = _fixture_read(spark, f"{sf_dir}/events.parquet").schema
    evs = (
        spark.readStream.schema(actual)
        .option("maxFilesPerTrigger", 1)  # one staged file per micro-batch
        .parquet(f"{tmp}/events")
    )
    evs = normalize_ts(evs, "ts")
    # µs precision for oracle comparability (see q_asof_join)
    evs = evs.withColumn("ts", F.col("ts") - F.col("ts") % F.lit(1000))
    sessions = stream_sessionize(evs, gap_ns=30 * 60 * SEC, watermark_delay="24 hours")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # Event-time timeouts fire against the watermark, not wall clock, so the
    # trigger drains and terminates on its own — a plain awaitTermination
    # (the processing-time version needed a status-string poll here).
    q.awaitTermination()
    from kadiyadb_spark.streaming.stateful import SESSION_SCHEMA

    out = spark.read.schema(SESSION_SCHEMA).parquet(f"{tmp}/out")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        round4_expr(F.col("value_sum")).alias("value_sum"),
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup, oracle-gated: the source delivers EVERY
    event twice (two copies of the file -> two micro-batches), stream_dedup
    drops the re-deliveries by event_id across batches (watermark state far
    wider than the data span), and the surviving aggregate must equal the
    ORIGINAL table's — the oracle never sees the duplication."""
    import os
    import shutil
    import tempfile

    from kadiyadb_spark.streaming.ingest import stream_dedup

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_sdedup_entry_")
    _stage_stream_events(sf_dir, tmp, tag="copy_a")
    _stage_stream_events(sf_dir, tmp, tag="copy_b")
    actual = _fixture_read(spark, f"{sf_dir}/events.parquet").schema
    evs = (
        spark.readStream.schema(actual)
        .option("maxFilesPerTrigger", 1)  # force the duplicate into a SECOND batch
        .parquet(f"{tmp}/events")
    )
    evs = normalize_ts(evs, "ts")
    deduped = stream_dedup(evs, ["event_id"], watermark="90 days")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # After normalize_ts the sink parquet carries long-ns ts already.
    out = spark.read.parquet(f"{tmp}/out")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum4_expr(F.col("value")).alias("total_value"),
        F.min("event_id").alias("first_event"),
    )


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (the model-based curation stage): the Gopher
    heuristic gate distilled into a hashed-BOW classifier, the whole corpus
    scored map-side from the broadcast model. Since r13 the entry fits the
    CLOSED-FORM centroid model (exact integer class-sum centroids + cosine
    margins — every stage SQL-replayable bit-for-bit), so the entry carries
    a FULL value-hash oracle instead of the rows-only check the LBFGS
    variant needed (VERDICT r12 item 4). The LBFGS trainer
    (train_quality_model) remains the production scorer — smooth
    probabilities for threshold sweeps — and stays pinned by
    tests/test_quality_model.py."""
    from kadiyadb_spark.functions.quality_model import distill_heuristic_gate_exact

    docs = _t(spark, sf_dir, "documents")
    _, scored = distill_heuristic_gate_exact(docs, dim=512, holdout_mod=5)
    return scored


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, oracle-gated: purchases attributed to
    the same user's clicks within the preceding 30 minutes, both sides
    live streams through the stateful symmetric hash join (watermark far
    wider than the data span, so the oracle — a plain batch interval join
    — sees the identical pair set)."""
    import os
    import shutil
    import tempfile

    from kadiyadb_spark.streaming.ingest import stream_interval_join

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_sjoin_entry_")
    _stage_stream_events(sf_dir, tmp, tag="events")
    actual = _fixture_read(spark, f"{sf_dir}/events.parquet").schema
    left = (
        spark.readStream.schema(actual)
        .parquet(f"{tmp}/events")
        .filter(F.col("event_type") == "purchase")
    )
    right = (
        spark.readStream.schema(actual)
        .parquet(f"{tmp}/events")
        .filter(F.col("event_type") == "click")
    )
    pairs = stream_interval_join(
        left, right, ["user_id"], lookback="30 minutes", watermark="90 days"
    )
    q = (
        pairs.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{tmp}/out")
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("event_id").cast("long").alias("n_purchases"),
        F.count_distinct("event_id_r").cast("long").alias("n_clicks"),
    )


def q_expire_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 Expire: persist a cube, drop epoch partitions older than a mid-
    month cutoff (epoch/cache.go:136-156 — there RemoveAll of epoch dirs,
    here a partition-directory drop), return the SURVIVING rows. Oracle:
    the same cube aggregation restricted to epoch >= cutoff."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_expire_entry_")
    # DAILY epochs: a month at 1h epochs means 720 partition directories of
    # tiny files — the small-files antipattern. 30 daily partitions keep the
    # same operator semantics with a layout that scales.
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    db.track(_t(spark, sf_dir, "events"), ts_col="ts", total_col="value")
    cutoff = T0 + 15 * day  # keep the back half of the month
    db.expire(cutoff)
    c = db.cube().withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def q_db_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot EXPORT: persist a cube, clone it to a second path
    (segment copy + fresh gen-0 manifest), then read THE CLONE — the
    backup/branch story, gated with the full cube oracle so the export
    is proven byte-faithful end-to-end (database.py:clone)."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_clone_entry_")
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/src",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    db.track(_t(spark, sf_dir, "events"), ts_col="ts", total_col="value")
    backup = db.clone(f"{tmp}/backup")
    c = backup.cube().withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def q_db_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten at the STORE level (database.py:forget):
    track the month, forget user 7 across every event type (full-depth
    pattern ['*','7']), read the cube back. The affected epochs' rollup
    prefixes re-fold from surviving leaves, so the gate is the full cube
    oracle over events EXCLUDING user 7 — 'as if never tracked', at
    every depth, through the same atomic manifest swap as compact. The
    identity-deletion companion to expire's age-deletion."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_forget_entry_")
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    db.track(_t(spark, sf_dir, "events"), ts_col="ts", total_col="value")
    res = db.forget(["*", "7"])
    assert res["forgotten_rows"] > 0, "fixture must contain user 7"
    c = db.cube().withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-nation triangle counts over the undirected TPC-H trade
    graph (functions/graph.py:triangle_count) — the clustering-structure
    primitive beside connected components and PageRank. Degree
    orientation bounds wedge generation at m^1.5 regardless of hub skew;
    the closing check is an equi-semi-join against the normalized edge
    set. All integer; the oracle replays the identical normalization,
    orientation and joins in SQL."""
    from kadiyadb_spark.functions.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select(
            s["s_nationkey"].cast("long").alias("src"),
            c["c_nationkey"].cast("long").alias("dst"),
        )
    )
    return triangle_count(edges)


def q_sql_over_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain SQL over the store (database.py:create_view): register the
    manifest-pinned cube as a temp view and answer an analytics question
    with one spark.sql string — the Spark-native API surface a BI tool /
    notebook needs (the reference only offers a Go client). The view
    wraps the same manifest-consistent fold as every read, so the SQL
    result is gate-identical to the API path; aggregates fold exact
    scaled longs inside the SQL itself. Born r10 -> gates inside the r10
    cap."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_sqlview_entry_")
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    db.track(_t(spark, sf_dir, "events"), ts_col="ts", total_col="value")
    v = db.create_view("kdb_sql_entry_cube")
    return spark.sql(f"""
        SELECT f1,
               SUM(CAST(round(total * 10000) AS BIGINT)) / 10000.0D AS total,
               CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS points,
               COUNT(DISTINCT f2) AS n_users
        FROM {v}
        WHERE depth = 2 AND bucket >= {WEEK0} AND bucket < {WEEK1}
        GROUP BY f1
    """)


def q_sql_rule_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PromQL fetch family on the BI/JDBC path (VERDICT r11 item 8;
    database.py:create_rule_group_view): the same three alerting rules as
    fetch_rule_group evaluate over the persisted manifest store — ONE
    shared scan with epoch-range + UNION-form dimension-stats pruning —
    and the pending/firing runs are REGISTERED AS A TEMP VIEW, then a
    plain spark.sql string computes the dashboard summary on top (runs,
    breaching slots and peak per rule and series family). The view is
    pinned to the manifest generation at registration, so a dashboard
    never reads a torn mix across commits. Oracle: the identical rule
    fragments wrapped in the same outer GROUP BY. Born r12."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_sqlrg_entry_")
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    db.track(_t(spark, sf_dir, "events"), ts_col="ts", total_col="value")
    rules = {
        "hot_clicks": {"pattern": ["click", "*"], "threshold": 50.0, "for_slots": 1},
        "hot_purchase": {"pattern": ["purchase", "*"], "threshold": 100.0, "for_slots": 1},
        "view_surge": {"pattern": ["view"], "threshold": 60.0, "for_slots": 2},
    }
    v = db.create_rule_group_view("kdb_sql_rg_view", WEEK0, WEEK1, rules)
    return spark.sql(f"""
        SELECT query, f1,
               CAST(COUNT(*) AS LONG) AS n_runs,
               CAST(SUM(n_slots) AS LONG) AS total_slots,
               MAX(peak) AS max_peak
        FROM {v}
        GROUP BY query, f1
    """)


def q_cube_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-consumer read (change-data-feed over the manifest store):
    track the first half of the month, record the generation, track the
    second half, read ``changes(g0)`` — exactly the second batch's cube
    increments, folded per key, without re-reading the cube. Oracle: the
    cube aggregation over only the second half's events. Rewrite detection
    (compact/expire in range -> refuse) is pytest-covered."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_changes_entry_")
    day = 24 * 3600 * SEC
    db = Database.open(
        spark,
        f"{tmp}/db",
        Params(duration=day, resolution=RES, retention=30 * day, fields=("event_type", "user_id")),
    )
    ev = _t(spark, sf_dir, "events")
    cut = T0 + 15 * day
    db.track(ev.filter(F.col("ts") < cut), ts_col="ts", total_col="value")
    g0 = db.current_gen()
    db.track(ev.filter(F.col("ts") >= cut), ts_col="ts", total_col="value")
    c = db.changes(g0).withColumn("depth", F.col("depth").cast("long"))
    return _round_doubles(c, ["total"])


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (rollup cascade): a 1m-resolution database
    incrementally maintains a 10m-resolution one through the manifest
    changelog (database.rollup_refresh) — two src commits, two refreshes,
    the SECOND reading only the newly committed segments (changes(hwm)),
    each applied through the atomic segment+hwm swap (replay = no-op).
    The dst fetch must equal the coarse aggregation of ALL events, which
    the oracle computes directly from the events table — proving the
    incremental cascade is exact, not approximately refreshed."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database, rollup_refresh

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_cascade_entry_")
    day = 24 * 3600 * SEC
    fields = ("event_type", "user_id")
    src = Database.open(
        spark, f"{tmp}/src", Params(duration=day, resolution=RES, retention=30 * day, fields=fields)
    )
    dst = Database.open(
        spark,
        f"{tmp}/dst",
        Params(duration=day, resolution=10 * RES, retention=30 * day, fields=fields),
    )
    ev = _t(spark, sf_dir, "events")
    cut = T0 + 15 * day
    src.track(ev.filter(F.col("ts") < cut), ts_col="ts", total_col="value")
    assert rollup_refresh(src, dst) is True
    src.track(ev.filter(F.col("ts") >= cut), ts_col="ts", total_col="value")
    assert rollup_refresh(src, dst) is True
    assert rollup_refresh(src, dst) is False  # up to date -> no-op
    r = dst.fetch(WEEK0, WEEK1, ["click", "*"], densify=False)
    return _round_doubles(r, ["total"])


def q_fetch_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution read ROUTING (the reference's parallel coarser
    databases, readme.md): a 1m database and its 10m rollup register as
    serving tiers; fetch_routed picks the finest resolution whose dense
    point count fits max_points (the Grafana maxDataPoints contract) and
    fetches at that tier's grid — here a week at max_points=2000 routes
    to the 10m rollup (10080 fine points would bust the budget, 1008
    coarse ones fit). Values must equal the coarse aggregation of raw
    events (the oracle computes it directly), proving routing changes the
    GRID, never the data."""
    import tempfile

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database, fetch_routed, rollup_refresh, select_resolution

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_routed_entry_")
    day = 24 * 3600 * SEC
    fields = ("event_type", "user_id")
    src = Database.open(
        spark, f"{tmp}/src", Params(duration=day, resolution=RES, retention=30 * day, fields=fields)
    )
    dst = Database.open(
        spark,
        f"{tmp}/dst",
        Params(duration=day, resolution=10 * RES, retention=90 * day, fields=fields),
    )
    src.track(_t(spark, sf_dir, "events"), ts_col="ts", total_col="value")
    assert rollup_refresh(src, dst) is True
    tiers = [src, dst]
    # routing sanity pinned inline: the week fits 10m but not 1m at 2000
    assert select_resolution(tiers, WEEK0, WEEK1, max_points=2000) is dst
    assert select_resolution(tiers, WEEK0, WEEK0 + 3600 * SEC, max_points=2000) is src
    r = fetch_routed(tiers, WEEK0, WEEK1, ["click", "*"], max_points=2000, densify=False)
    return _round_doubles(r, ["total"])


def q_catalog_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 LoadAll: scan a server directory, open every database with a valid
    params.json, skip invalid ones with a warning (database.go:66-124,
    database_test.go:17-99). Output = the opened handles' validated params;
    oracle = the statically expected table (invalid/malformed dbs absent,
    Go-style duration strings parsed to ns, rsize derived)."""
    import json
    import os
    import tempfile

    from kadiyadb_spark.database import load_all_open

    root = tempfile.mkdtemp(prefix="kdb_catalog_entry_")
    specs = {
        "metrics_1h": {"duration": "1h", "resolution": "1m", "retention": "720h", "fields": ["et", "uid"]},
        "metrics_1s": {"duration": 60 * SEC, "resolution": SEC, "retention": 3600 * SEC, "fields": ["et"]},
        "bad_ratio": {"duration": "1h", "resolution": "7s", "retention": "720h"},  # 1h % 7s != 0
        "bad_missing": {"duration": "1h"},  # missing resolution/retention
    }
    for name, d in specs.items():
        os.makedirs(f"{root}/{name}", exist_ok=True)
        with open(f"{root}/{name}/params.json", "w") as f:
            json.dump(d, f)
    os.makedirs(f"{root}/not_a_db", exist_ok=True)  # no params.json -> ignored
    os.makedirs(f"{root}/bad_json", exist_ok=True)
    with open(f"{root}/bad_json/params.json", "w") as f:
        f.write("{not json")  # malformed file -> skipped with a warning
    dbs = load_all_open(spark, root)
    rows = [
        (n, db.params.duration, db.params.resolution, db.params.retention, db.params.rsize, len(db.params.fields))
        for n, db in sorted(dbs.items())
    ]
    return spark.createDataFrame(
        rows, "db_name string, duration long, resolution long, retention long, rsize long, n_fields long"
    )


# --------------------------------------------------------------------------
# Relational surface (Spark-free capabilities the reference lacks; judged
# as engine breadth — joins, sorts, top-k, windows, grouping sets)
# --------------------------------------------------------------------------


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with region filter; dims broadcast."""
    rg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(rg), n["n_regionkey"] == rg["r_regionkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(exact_sum4_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having at least one order over 300k."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300_000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders in the first half of 1996."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1996-07-01"))
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT surface: users who clicked AND purchased on day one
    but raised no 'error' that day (a one-day window keeps the sets
    non-degenerate — over the full month every user does everything)."""
    day1 = T0 + 24 * 3600 * SEC
    ev = _events_range(spark, sf_dir, T0, day1)
    u = lambda t: ev.filter(F.col("event_type") == t).select("user_id")
    return u("click").intersect(u("purchase")).subtract(u("error"))


def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles with a TOLERANCE oracle
    (same pattern as approx_distinct): the sketch value is engine-specific,
    so the hashed output carries the exact percentile plus a within-epsilon
    flag the oracle pins TRUE. At 100 TB the sketch is the only option —
    exact percentile_cont needs a full sort; GK merges partial sketches
    map-side."""
    from kadiyadb_spark.functions.profile import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    approx = F.expr("approx_percentile(l_extendedprice, 0.5D, 1000)")
    # The hashed p50 is the exact scaled-long interpolation (residue (c)
    # closed — no engine percentile() in a hashed output); the band stays an
    # engine aggregate because it only feeds the boolean tolerance flag.
    ex = exact_quantiles(
        li, "l_extendedprice", ["l_returnflag"], probs=((1, 2),), names=["p50_exact"]
    ).select("l_returnflag", "p50_exact")
    r = li.groupBy("l_returnflag").agg(
        approx.alias("_approx"),
        F.expr("percentile(l_extendedprice, array(0.45D, 0.55D))").alias("_band"),
    )
    # GK guarantee: rank error <= eps*n, so the estimate must lie within the
    # [p45, p55] value band (eps=0.01 << 0.05 margin).
    return ex.join(r, "l_returnflag").select(
        "l_returnflag",
        "p50_exact",
        (
            (F.col("_approx") >= F.element_at("_band", 1))
            & (F.col("_approx") <= F.element_at("_band", 2))
        ).alias("within_band"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct, gated by a TOLERANCE oracle: the estimate
    itself is engine-specific, so the hashed output carries the exact count
    (cross-engine comparable) plus a within-3*rsd flag the oracle asserts
    TRUE — the gate fails iff the estimate drifts out of tolerance."""
    ev = _t(spark, sf_dir, "events")
    rsd = 0.02
    r = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).cast("long").alias("_approx"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    return r.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.lit(3 * rsd) * F.col("exact_users")
        ).alias("within_tol"),
    )


def q_pack_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-SPLIT packing (next-fit decreasing) — the SFT-side packing
    strategy where documents must not cross sequence boundaries
    (functions/packing.py:pack_nosplit): one shuffle onto shards, a
    per-shard Arrow kernel runs the deterministic next-fit, and the
    per-bin census (docs/tokens/padding) is hash-gated against a DuckDB
    RECURSIVE CTE replaying the same online rule — an iterative
    algorithm value-checked cross-engine, like the BPE trainer."""
    from kadiyadb_spark.functions.packing import pack_nosplit, pack_nosplit_bins

    docs = _t(spark, sf_dir, "documents")
    return pack_nosplit_bins(pack_nosplit(docs, seq_len=512, num_shards=8), seq_len=512)


def q_histogram_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile histograms end to end (the quantile analog of
    hll_distinct_rollup): per-(event_type, day) write-time histograms
    (sketch.value_histogram) merge LOSSLESSLY up to event_type
    (histogram_merge = groupBy-sum, the cube's decomposability philosophy)
    and histogram_quantile reads the merged rows. The oracle computes the
    quantile DIRECTLY from raw events at the same ladder — equality proves
    merging never degrades the answer, hash-gated."""
    from kadiyadb_spark.functions.sketch import histogram_merge, value_histogram
    from kadiyadb_spark.query import histogram_quantile

    ev = _t(spark, sf_dir, "events")
    day_ns = 24 * 3600 * SEC
    daily = value_histogram(
        ev.withColumn("day", (F.col("ts") - F.col("ts") % F.lit(day_ns)).cast("long")),
        "value",
        ["event_type", "day"],
        [1.0, 5.0, 10.0, 50.0, 100.0],
    )
    merged = histogram_merge(daily, ["event_type"])
    return histogram_quantile(merged, 0.9, ["event_type"])


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent-items via the two-pass sketch-pruned design
    (functions/sketch.py:heavy_hitters): per-partition Misra-Gries
    summaries bound pass 1's shuffle to partitions x k candidate rows
    (pigeonhole makes the union a guaranteed heavy-hitter superset), pass
    2 recounts only candidates — output is exact, so a plain GROUP BY /
    HAVING oracle hash-gates it. Threshold 1/512 is dyadic: exact in
    binary doubles AND decimals, so both engines floor the same integer."""
    from kadiyadb_spark.functions.sketch import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, ["user_id"], 1.0 / 512)


def q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct rollup (functions/sketch.py): per-(type,
    day) HLL sketches of user_id built write-time, UNIONED day->month
    (lossless merge — no re-scan of raw events), estimated, and gated by a
    tolerance oracle like approx_distinct: the estimate must land within
    3x the sketch's relative standard error of the exact count, which the
    oracle pins TRUE. The sketch binaries themselves are engine-specific
    (DataSketches registers), so the hashed output carries the exact count
    + flag, not the sketch."""
    from kadiyadb_spark.functions import sketch as SKC

    ev = _t(spark, sf_dir, "events")
    day_ns = 24 * 3600 * SEC
    daily = SKC.hll_rollup(
        ev.withColumn("day", (F.col("ts") - F.col("ts") % F.lit(day_ns)).cast("long")),
        "user_id",
        ["event_type", "day"],
        lgk=12,
    )
    monthly = SKC.hll_merge(daily, ["event_type"])
    est = SKC.hll_estimate(F.col("sketch"))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    rse = 1.04 / (2**12) ** 0.5
    j = monthly.join(F.broadcast(exact), "event_type")
    return j.select(
        "event_type",
        "exact_users",
        F.col("n_sketches").cast("long").alias("n_days"),
        (F.abs(est - F.col("exact_users")) <= F.lit(3 * rse) * F.col("exact_users")).alias(
            "within_tol"
        ),
    )


def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta) distinct sketches with SET-OPERATION estimates — the
    distinct sketch HLL cannot be: "estimated distinct users in click AND
    purchase" per event-type pair (functions/sketch.py:kmv_sketch). The
    build keeps a bounded per-group min-k inside Arrow batches (only
    partitions x groups x k hashes shuffle, a lossless superset of the
    global min-k), and because min-k over the cross-engine md5 hash is a
    pure order statistic, the sketch AND every estimate are deterministic
    — the oracle replays the full construction and value-hash gates it,
    no tolerance flag. Born r09 post-cap -> leads the r10 gate."""
    from kadiyadb_spark.functions.sketch import (
        kmv_estimate_expr,
        kmv_setop_exprs,
        kmv_sketch,
    )

    K = 64
    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=K)
    a = sk.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("_sa"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("_sb"))
    # 5x5 sketch rows: the pair join is a broadcast nested loop over KBs
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    ops = kmv_setop_exprs(F.col("_sa"), F.col("_sb"), K)
    return pairs.select(
        "type_a",
        "type_b",
        round4_expr(kmv_estimate_expr(F.col("_sa"), K)).alias("est_a"),
        round4_expr(kmv_estimate_expr(F.col("_sb"), K)).alias("est_b"),
        round4_expr(ops["union"]).alias("est_union"),
        round4_expr(ops["intersect"]).alias("est_intersect"),
        round4_expr(ops["jaccard"]).alias("est_jaccard"),
        ops["matches"].cast("long").alias("matches"),
    )


def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN frequency sketch (Cormode & Muthukrishnan 2005) — the
    point-frequency sibling of the family's distinct sketches
    (functions/sketch.py:cm_sketch): per event type, a 4x32 counter
    matrix over user_id built from per-DAY sketches and element-wise
    MERGED up (counters are a monoid), so the gate itself proves merge ==
    direct-build: the oracle constructs the whole-range matrix in SQL and
    the order-weighted checksum must agree counter for counter. The 10
    globally-hottest users are then point-queried off the merged sketch —
    estimates are exact longs (min over 4 md5-bucket counters) with the
    one-sided never-undercount bound pinned as a gated flag. Shape at
    100 TB: each row fans to 4 (j,bucket) cells map-side and partial
    aggregation bounds the shuffle at groups x 128 counter rows per
    partition — raw keys never shuffle; probe selection is
    TakeOrderedAndProject (k per partition, k at the driver). Born r10 ->
    gates inside the r10 cap."""
    from kadiyadb_spark.functions.sketch import (
        cm_estimate_expr,
        cm_merge,
        cm_sketch,
    )

    W, D = 32, 4
    ev = normalize_ts(_t(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull()
    )
    # the per-day split only feeds the merge path — any deterministic
    # partition of the rows proves the monoid fold; ts is long ns here
    byday = cm_sketch(
        ev.withColumn("day", (F.col("ts") / F.lit(86_400_000_000_000)).cast("long")),
        "user_id",
        ["event_type", "day"],
        width=W,
        depth=D,
    )
    sk = cm_merge(byday, ["event_type"]).withColumn(
        "sketch_checksum",
        F.aggregate(
            F.zip_with(
                "cm",
                F.sequence(F.lit(1), F.lit(D * W)),
                lambda c, i: c * i.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ),
    )
    probes = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), "user_id")
        .limit(10)
        .select("user_id")
    )
    exact = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("_exact")
    )
    # 10 probes x |types| sketch rows: KB-sized broadcast nested loop
    pairs = probes.crossJoin(F.broadcast(sk))
    est = cm_estimate_expr(F.col("cm"), F.col("user_id"), W, D)
    return (
        pairs.join(exact, ["event_type", "user_id"], "left")
        .select(
            "event_type",
            "user_id",
            est.alias("est_cnt"),
            F.coalesce("_exact", F.lit(0).cast("long")).alias("exact_cnt"),
            (est >= F.coalesce("_exact", F.lit(0).cast("long"))).alias(
                "never_under"
            ),
            "sketch_checksum",
        )
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority scoring (functions/graph.py:pagerank) — the
    RefinedWeb/CCNet-style domain-reputation prior, run over the TPC-H
    trade graph: nation -> nation edges weighted by lineitem volume
    (supplier nation ships to customer nation), 3 damped iterations.
    Every update is integer arithmetic on scaled longs (quantized edge
    shares, `div` folds), so the final rank vector is a pure integer
    function of the edge list — the oracle unrolls the same 3 updates as
    CTEs and value-hash gates the longs. Scale shape: ranks and edges
    stay DataFrames (no driver collect); one iteration = one src-keyed
    join + one dst-keyed fold, the canonical distributed-PageRank plan;
    the edge derivation is the usual broadcast-dimension TPC-H join
    tree. Born r10 -> gates inside the r10 cap."""
    from kadiyadb_spark.functions.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("src")
    )
    nc = n.select(
        F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("_snk"))
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("_cnk"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank(edges, weight="w", iters=3)


def q_sketch_cm_joinsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-CARDINALITY estimation from Count-Min sketches (Cormode &
    Muthukrishnan 2005 §4.2; sketch.py:cm_inner_product_expr) — the
    query-optimizer primitive: |A ⋈ B| on user_id per event-type pair,
    estimated as min over depth rows of the bucket-counter inner product,
    WITHOUT touching either relation again. One-sided like the point
    estimates (never under the true join size — gated flag). Exact side
    for comparison: sum of per-user count products via one user-keyed
    self-join. All longs; the oracle replays sketch AND estimate over a
    pair x depth grid (a depth row with no shared buckets contributes a
    zero dot). Born r10 -> gates inside the r10 cap."""
    from kadiyadb_spark.functions.sketch import (
        cm_inner_product_expr,
        cm_sketch,
    )

    W, D = 64, 4
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sk = cm_sketch(ev, "user_id", ["event_type"], width=W, depth=D)
    a = sk.select(F.col("event_type").alias("type_a"), F.col("cm").alias("_ca"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("cm").alias("_cb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    cnts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    ex = (
        cnts.alias("x")
        .join(cnts.alias("y"), on="user_id")
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.sum(F.col("x._n") * F.col("y._n")).alias("_exact"))
    )
    est = cm_inner_product_expr(F.col("_ca"), F.col("_cb"), W, D)
    return (
        pairs.join(ex, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            est.alias("est_join"),
            F.coalesce("_exact", F.lit(0).cast("long")).alias("exact_join"),
            (est >= F.coalesce("_exact", F.lit(0).cast("long"))).alias(
                "never_under"
            ),
        )
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    r = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # qty/price ≤2dp, price*(1-disc) ≤4dp, the triple product ≤6dp:
            # every sum/avg is an integer-scaled exact fold (order-immune,
            # the r07 gate's 4dp-boundary flake class eliminated)
            exact_sum4_expr(F.col("l_quantity")).alias("sum_qty"),
            exact_sum4_expr(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum4_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            exact_sum4_expr(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                dp=6,
            ).alias("sum_charge"),
            exact_avg4_expr(F.col("l_quantity")).alias("avg_qty"),
            exact_avg4_expr(F.col("l_extendedprice")).alias("avg_price"),
            exact_avg4_expr(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return r


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    r = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey")
        .agg(
            exact_sum4_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.date_format(F.first("o_orderdate"), "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    return r


def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(exact_sum4_expr(F.col("value")).alias("total_value"), F.count("*").alias("n_events"))
        .orderBy(F.col("total_value").desc(), F.col("user_id").asc())
        .limit(20)
    )


def q_window_daily_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day_ns = 24 * 3600 * SEC
    # Day totals accumulate as integer-scaled longs so BOTH the day value
    # and the running cumulative sum are associative/order-immune; each is
    # divided back to 4dp exactly once (num.py:exact_sum4_expr rationale).
    daily = (
        ev.withColumn("day", (F.col("ts") - F.col("ts") % F.lit(day_ns)).cast("long"))
        .groupBy("user_id", "day")
        .agg(F.sum(F.round(F.col("value") * 10000).cast("long")).alias("_dv4"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    r = daily.select(
        "user_id",
        "day",
        (F.col("_dv4") / F.lit(10000.0)).alias("day_value"),
        (F.sum("_dv4").over(w) / F.lit(10000.0)).alias("running_value"),
        F.row_number().over(w).cast("long").alias("day_rank"),
    )
    return r


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: revenue by region/nation with ROLLUP."""
    n = _t(spark, sf_dir, "nation")
    rg = _t(spark, sf_dir, "region")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(rg), n["n_regionkey"] == rg["r_regionkey"])
    )
    r = (
        joined.rollup("r_name", "n_name")
        .agg(exact_sum4_expr(F.col("o_totalprice")).alias("revenue"), F.count("*").alias("n_orders"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )
    return r


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (time-series op Spark lacks natively): for each purchase
    event, the user's most recent prior 'view' event time. Composition of
    built-ins: conditional window max over a unioned, user-partitioned
    event timeline — no pairwise range join, one shuffle by user."""
    from pyspark.sql import Window

    # DuckDB reads the parquet TIMESTAMP(NANOS) column at microsecond
    # precision, so compare at micros: truncate our ns-longs to whole us.
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts") - F.col("ts") % F.lit(1000))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, -1)
    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).withColumn(
        "last_view_ts", F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "last_view_ts",
        ((F.col("ts") - F.col("last_view_ts")) / F.lit(SEC)).cast("long").alias("gap_s"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function surface: parse the events props payload."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            # long sum / count: exact integer arithmetic, order-immune
            # (avg(long) sums doubles in partition order — latent 4dp flake)
            round4_expr(F.sum("k") / F.count("k")).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): per-user sessions split at >30 min
    inactivity; classic lag + running-sum-of-flags composition."""
    from pyspark.sql import Window

    gap = 30 * 60 * SEC
    # micros precision for oracle comparability (see q_asof_join)
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts") - F.col("ts") % F.lit(1000))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "_new",
        F.when(F.lag("ts").over(w).isNull() | (F.col("ts") - F.lag("ts").over(w) > gap), 1).otherwise(0),
    ).withColumn("session_id", F.sum("_new").over(w))
    return flagged.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        ((F.max("ts") - F.min("ts")) / F.lit(SEC)).cast("long").alias("duration_s"),
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup -> view -> click -> purchase over the event
    stream: per stage, users reached (each stage strictly after the event
    completing the previous one) + conversion ratios. Spark runs ONE
    user-keyed shuffle and a greedy JVM aggregate() scan per user; the
    oracle proves the same numbers via the textbook min-filter CTE chain
    — two different algorithms, one answer
    (functions/analytics.py:funnel_counts)."""
    from kadiyadb_spark.functions.analytics import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(
        ev, ["signup", "view", "click", "purchase"], ts_col="ts"
    )


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel under a conversion window: every later stage must land
    within 24h of the user's FIRST signup (fixed anchor, never
    re-anchored — the semantics both engines implement). Same greedy
    JVM scan vs min-filter-CTE cross-check as funnel_counts
    (functions/analytics.py:funnel_counts(within=...))."""
    from kadiyadb_spark.functions.analytics import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(
        ev, ["signup", "view", "click", "purchase"], ts_col="ts",
        within=24 * 3600 * SEC,
    )


def q_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert between consecutive funnel stages: count, exact mean
    and type-7 p25/p50/p75 of (t_i - t_{i-1}) in seconds for the users the
    greedy scan advanced — deltas are exact integer ns (inside 2^53,
    unlike absolute epoch-ns), dyadic phis make the interpolation
    bit-identical, and the oracle derives the same deltas from the
    min-filter CTE chain (functions/analytics.py:funnel_time_stats)."""
    from kadiyadb_spark.functions.analytics import funnel_time_stats

    return funnel_time_stats(
        _t(spark, sf_dir, "events"),
        ["signup", "view", "click", "purchase"],
        ts_col="ts",
    )




def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM lifecycle segmentation: per user, integer days since last event,
    event count, exact scaled-long spend, and deterministic ntile(5)
    scores (every ORDER BY ends on user_id — a total order, so the
    SQL-standard tile boundaries are identical in any engine); now is an
    explicit parameter, never an engine clock
    (functions/analytics.py:rfm_segments)."""
    from kadiyadb_spark.functions.analytics import rfm_segments

    return rfm_segments(_t(spark, sf_dir, "events"), now_ts=_RFM_NOW, ts_col="ts")


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution with a 24h lookback: each purchase
    credits the most recent strictly-earlier touch (view/click/signup),
    stale carries void to '(none)' — if the LAST touch is outside the
    window, every earlier one is staler, so the single carried value
    decides. One user-keyed window (the asof-join collapsed into the
    timeline scan); the oracle answers with a correlated argmax — two
    algorithms, one answer (functions/analytics.py:attribution)."""
    from kadiyadb_spark.functions.analytics import attribution

    return attribution(
        _t(spark, sf_dir, "events"),
        ["view", "click", "signup"],
        "purchase",
        model="last",
        lookback=24 * 3600 * SEC,
        ts_col="ts",
    )


def q_track_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter census of a track batch: the rows the write path drops,
    each with its reject_reason (null/unparseable event time first, then
    the reference's forbidden ''/'*'/null field values in field order) —
    the observability half of row rejection at 100 TB. A deterministically
    dirtied copy of the fixture (every 17th ts nulled, every 11th
    event_type starred, every 13th user nulled) exercises all three
    reasons; pure map-side filter (functions: ingest.track_rejects)."""
    from kadiyadb_spark.ingest import track_rejects

    ev = _t(spark, sf_dir, "events")
    dirty = ev.select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("ts"))
        .alias("ts"),
        F.when(F.col("event_id") % 11 == 0, F.lit("*"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "value",  # clean in the fixture; r12's illegal_value reasons fire
        # only on poison rows (pytest-pinned separately)
    )
    return track_rejects(dirty, ["event_type", "user_id"], ts_col="ts").select(
        "event_id", "reject_reason"
    )


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily engagement census: DAU, trailing-7-day active users and the
    DAU/WAU stickiness ratio. The sliding distinct is exact WITHOUT a
    per-day rescan: each deduped (user, active-day) contributes coverage
    to the 7 windows it keeps the user active in, one generated integer
    sequence + a second distinct; integer day math, one division
    (functions/analytics.py:active_user_stats)."""
    from kadiyadb_spark.functions.analytics import active_user_stats

    return active_user_stats(_t(spark, sf_dir, "events"), ts_col="ts")


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users cohorted by first active day; per
    (cohort_day, day_offset <= 14) the users active again and the
    retention ratio. Integer DIV day arithmetic (no calendar functions),
    one wide (user, day) dedup shuffle, broadcast cohort sizes
    (functions/analytics.py:cohort_retention)."""
    from kadiyadb_spark.functions.analytics import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, ts_col="ts", max_offset=14)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) of extended price per flag.

    Residue (c) closed: the value no longer comes out of an engine
    ``percentile()`` aggregate (whose interpolation runs in that engine's
    own double arithmetic) — ``profile.exact_quantiles`` replays the
    (n-1)*p rank definition in exact scaled-long integer arithmetic with
    ONE final double division, so the hashed doubles are identical in any
    engine at any parallelism. The oracle is the same construction in SQL."""
    from kadiyadb_spark.functions.profile import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(li, "l_extendedprice", ["l_returnflag"])


def q_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar-function surface: monthly order stats."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum4_expr(F.col("o_totalprice")).alias("revenue"),
            F.min("o_orderkey").alias("first_orderkey"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (top-3 users by value per event type): the windowed
    rank-filter shape. One shuffle for the user aggregate, one window
    exchange keyed by the group — never a global sort."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    # rank on integer-scaled exact sums: partition-order double sums could
    # flip ranks between engines at a tie boundary (num.py:exact_sum4_expr)
    per = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("_v4")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("_v4").desc(), F.col("user_id").asc())
    return (
        per.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "event_type",
            "user_id",
            F.col("rnk").cast("long").alias("rnk"),
            (F.col("_v4") / F.lit(10000.0)).alias("total_value"),
        )
    )


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: nullif-generated nulls, aggregate null
    skipping (count(col) vs count(*)), coalesce defaults, and the null-safe
    equality operator (<=> / IS NOT DISTINCT FROM). All-integer outputs, so
    the gate is exact."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    n = F.nullif(k % 5, F.lit(0))
    d = ev.select("event_type", n.alias("n"))
    return d.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count("n").alias("n_nonnull"),
        F.count_if(F.col("n").isNull()).alias("n_null"),
        F.sum(F.coalesce("n", F.lit(-1))).alias("sum_coalesced"),
        F.count_if(F.col("n").eqNullSafe(F.lit(None).cast("long"))).alias("n_nullsafe_eq_null"),
    )


def q6_selective_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective scan-aggregate. All three predicates
    push down to the parquet scan (no join, no shuffle beyond the final
    1-row agg) — the canonical 'filters reach the scan' plan."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        exact_sum4_expr(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count("*").alias("n_rows"),
    )
    return r


def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio over a broadcast dim
    join (part is tiny relative to lineitem at any SF; the fact side never
    shuffles)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01")) & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    p = _t(spark, sf_dir, "part")
    # revenue scaled to exact 4dp longs: both sums are associative and the
    # promo ratio is one long/long division — no engine-order FP path.
    rev4 = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast("long")
    r = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev4).otherwise(F.lit(0))).alias("_p4"),
            F.sum(rev4).alias("_t4"),
            F.count("*").alias("n_rows"),
        )
        .select(
            round4_expr(F.lit(100.0) * F.col("_p4") / F.col("_t4")).alias("promo_pct"),
            (F.col("_t4") / F.lit(10000.0)).alias("total_revenue"),
            "n_rows",
        )
    )
    return r


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate feeding a join + top-k.
    The quantity rollup shrinks lineitem to order grain BEFORE the joins,
    so only qualifying orders (a tiny fraction) reach the join; customer is
    broadcast. Sort keys are raw parquet values (bitwise identical across
    engines) with an orderkey tiebreak, so the top-20 set is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("_sq")).filter(F.col("_sq") > 150)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            round4_expr(F.col("o_totalprice")).alias("totalprice"),
            round4_expr(F.col("_sq")).alias("sum_qty"),
        )
    )


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs residual over a broadcast join. Catalyst
    factors the common p_partkey equi-key out of the disjunction (the join
    stays a hash join; the OR becomes a post-join filter) — the plan to
    check is that no cartesian/BNLJ appears."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(c1 | c2 | c3).agg(
        exact_sum4_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year. The
    nation dim joins twice under different roles (supplier vs customer
    side) — both broadcast; the symmetric pair predicate filters post-join."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    a, b = "NATION_3", "NATION_7"
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == n1["s_nkey"])
        .join(F.broadcast(n2), c["c_nationkey"] == n2["c_nkey"])
        .filter(
            ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("yr")
    ).agg(
        exact_sum4_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of PROMO-part revenue
    sold to ASIA customers, per year. Six-table join where every dimension
    side broadcasts; the conditional-sum / sum ratio is a single agg pass."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(F.broadcast(r), n1["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == n2["s_nkey"])
    )
    # scaled-long sums; market share is one long/long division (order-immune)
    vol4 = F.round(vol * 10000).cast("long")
    nat4 = F.when(F.col("supp_nation") == "NATION_3", vol4).otherwise(F.lit(0))
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(F.sum(nat4).alias("_n4"), F.sum(vol4).alias("_v4"))
        .select(
            "yr",
            round4_expr(F.col("_n4") / F.col("_v4")).alias("mkt_share"),
            (F.col("_v4") / F.lit(10000.0)).alias("total_vol"),
        )
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count, including
    the zero-order customers a LEFT join preserves. Two aggregations; the
    second input is one row per customer, so the histogram agg is tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    an agg, a global-max scalar subquery over it, an equality filter. The
    revenue is rounded 4dp on BOTH engines BEFORE the max/equality so the
    comparison is deterministic across summation orders."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        exact_sum4_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    top = rev.join(F.broadcast(mx), rev["total_rev"] == mx["mx"]).drop("mx")
    return top.join(F.broadcast(s), top["l_suppkey"] == s["s_suppkey"]).select(
        "s_suppkey", "s_name", "total_rev"
    )


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    (< 20% of the part's mean) Brand#23 line items went unshipped. The
    correlated per-part AVG becomes a broadcast agg-join — no re-scan per
    row, the decorrelation Catalyst would pick anyway."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    lp = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    avg_q = lp.groupBy(F.col("p_partkey").alias("ak")).agg(
        # quantities are whole numbers: 1e4-scaled long sum is exact and
        # order-immune; (sum/count)*0.2 association mirrored in the oracle
        round4_expr(
            F.sum(F.round(F.col("l_quantity") * 10000).cast("long"))
            / (F.lit(10000.0) * F.count("l_quantity"))
            * 0.2
        ).alias("q_thresh")
    )
    small = lp.join(F.broadcast(avg_q), lp["p_partkey"] == avg_q["ak"]).filter(
        F.col("l_quantity") < F.col("q_thresh")
    )
    # scaled-long sum, ONE division by 70000.0 (= 1e4 scale * 7 years)
    return small.agg(
        round4_expr(
            F.sum(F.round(F.col("l_extendedprice") * 10000).cast("long")) / F.lit(70000.0)
        ).alias("avg_yearly")
    )


def q22_waiting_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no RECENT orders (none
    since 1999 — the fixture's dense order history would make the literal
    no-orders-ever set empty), per nation. Global-average scalar subquery
    (rounded 4dp both engines), anti join against the filtered orders,
    then a per-nation rollup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1999-01-01"))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        # acctbal is 2dp cents: integer-scaled exact average (order-immune)
        exact_avg4_expr(F.col("c_acctbal")).alias("ab")
    )
    rich = c.join(F.broadcast(avg_bal), c["c_acctbal"] > avg_bal["ab"]).drop("ab")
    waiting = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return waiting.groupBy(F.col("c_nationkey").cast("long").alias("nationkey")).agg(
        F.count("*").alias("numcust"),
        exact_sum4_expr(F.col("c_acctbal")).alias("totacctbal"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each mid-size STANDARD part, the supplier(s)
    offering the minimum unit cost, decorated with supplier/nation. The
    fixture has no partsupp table, so unit cost is the MIN observed
    lineitem unit price (l_extendedprice / l_quantity) per
    (part, supplier) — MIN of per-row doubles (not AVG) keeps the
    correlated-aggregate equality exact across engines. The correlated
    min-per-part scalar subquery decorrelates to an agg + broadcast join
    (Catalyst's own strategy); part/supplier/nation all broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cost = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_partkey", "l_suppkey")
        .agg(
            round4_expr(F.min(F.col("l_extendedprice") / F.col("l_quantity"))).alias("unit_cost")
        )
    )
    best = cost.groupBy(F.col("p_partkey").alias("bk")).agg(F.min("unit_cost").alias("best_cost"))
    r = (
        cost.join(
            F.broadcast(best),
            (cost["p_partkey"] == best["bk"]) & (cost["unit_cost"] == best["best_cost"]),
        )
        .join(F.broadcast(s), cost["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    )
    return (
        r.select("s_acctbal", "s_name", "n_name", "p_partkey", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — count the quarter's orders
    having at least one late line item. The fixture has no commit/receipt
    dates, so "late" is shipped >= 30 days after the order date; the EXISTS
    stays a left-semi join with the correlated predicate in the join
    condition (no pre-agg, no row explosion). Order-date filter pushes to
    the orders scan before the join."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    # "30 days later" as raw int64 epoch-µs subtraction: date_add/INTERVAL
    # semantics on TIMESTAMP inputs are an engine default that has diverged
    # across gate-engine versions (VERDICT r07); epoch arithmetic has no
    # default to diverge on (fixture dates are midnight-aligned UTC).
    ship_us = F.unix_micros(li["l_shipdate"].cast("timestamp"))
    order_us = F.unix_micros(o["o_orderdate"].cast("timestamp"))
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (ship_us - order_us >= F.lit(30 * 86_400_000_000)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by (nation, year) for parts matching a name
    fragment. No partsupp/ps_supplycost in the fixture, so per-unit cost is
    proxied as 60% of p_retailprice — the join topology under test is
    unchanged: name-filtered part broadcast into lineitem, supplier→nation
    broadcast, the big-big lineitem⋈orders shuffle join for the order year,
    then one agg shuffle on (nation, year)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(exact_sum4_expr(amount).alias("sum_profit"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value for one nation's suppliers,
    kept when it exceeds a global-fraction scalar subquery. No partsupp, so
    value is the summed extended price of the nation's shipments of that
    part. All money in the fixture is exact cents, so both sums are done in
    integer cents and the HAVING is the integer cross-multiplication
    value_cents * 1000 > total_cents (0.1% fraction) — exact, no FP
    boundary flake. One agg shuffle; the scalar total broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    per = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("_cents"))
    )
    total = per.agg(F.sum("_cents").alias("_total"))
    return (
        per.join(F.broadcast(total), per["_cents"] * 1000 > total["_total"])
        .select("l_partkey", (F.col("_cents") / F.lit(100.0)).alias("value"))
    )


def q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line-priority counts per shipping class. The fixture
    has no l_shipmode/commit/receipt dates, so the class is the
    order-to-ship delay bucket (FAST <= 30 < MEDIUM <= 90 < SLOW days); the
    CASE-sum pivot over the big-big orders join is the shape under test.
    Ship-date year filter pushes to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    # r07 driver-gate red: F.datediff vs DuckDB datediff('day', ts, ts)
    # resolve complete-period vs boundary-crossing differently across
    # engine builds. Raw epoch-µs subtraction (dates are midnight-aligned
    # UTC) has no engine default; thresholds compare in µs directly.
    delay_us = F.unix_micros(F.col("l_shipdate").cast("timestamp")) - F.unix_micros(
        F.col("o_orderdate").cast("timestamp")
    )
    day_us = 86_400_000_000
    bucket = (
        F.when(delay_us > F.lit(90 * day_us), F.lit("SLOW"))
        .when(delay_us > F.lit(30 * day_us), F.lit("MEDIUM"))
        .otherwise(F.lit("FAST"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("ship_class")).agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
    )


def q16_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can supply each
    (brand, type, size), with a NOT IN supplier exclusion. The
    part-supplier relation is derived from observed lineitem shipments (no
    partsupp table); the complaints exclusion is proxied by negative
    account balance. The NOT IN becomes a broadcast anti join before the
    part join; one shuffle for the distinct-count agg."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem")
    rel = li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
    return (
        rel.join(F.broadcast(p), rel["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding a significant share of promotable
    stock — here, suppliers whose 1997 shipments of 'small %' parts beat
    1.5x the cross-supplier average, decorated with nation. The aggregate
    scalar subquery keeps Q20's correlated-threshold form; quantities are
    whole numbers, so the comparison is the exact integer
    cross-multiplication 2 * qty * n_suppliers > 3 * total_qty."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small %"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    per = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        # round-then-cast, NOT a bare cast: Spark CAST(double AS LONG)
        # truncates while DuckDB CAST rounds — an engine default that
        # redlined this entry at the r07 driver gate. round() on exactly
        # integral doubles is identical in both engines.
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"))
    )
    tot = per.agg(
        F.sum("sum_qty").alias("_total"), F.count("*").cast("long").alias("_n")
    )
    return (
        per.join(F.broadcast(tot), 2 * per["sum_qty"] * tot["_n"] > 3 * tot["_total"])
        .join(F.broadcast(s), per["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_name", "n_name", "sum_qty")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the sole late shipper on a
    multi-supplier finalized order — EXISTS (another supplier shipped on the
    order) AND NOT EXISTS (another supplier shipped late). Late = shipped
    60+ days after the order date (no receipt/commit dates in the fixture).
    The two correlated quantifiers become a semi + anti self-join, both
    hash joins on the order key with the supplier inequality as a join-side
    residual; numwait counts late LINES per TPC-H semantics."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    # epoch-µs subtraction instead of date_add: no engine-default date
    # semantics on either side of the gate (see q12_shipmode).
    delay_us = F.unix_micros(F.col("l_shipdate").cast("timestamp")) - F.unix_micros(
        F.col("o_orderdate").cast("timestamp")
    )
    late = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(delay_us >= F.lit(60 * 86_400_000_000))
        .select("l_orderkey", "l_suppkey")
    )
    other = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    other_late = late.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    waited = late.join(
        other, (late["l_orderkey"] == other["k2"]) & (late["l_suppkey"] != other["s2"]), "left_semi"
    )
    sole = waited.join(
        other_late,
        (waited["l_orderkey"] == other_late["k3"]) & (waited["l_suppkey"] != other_late["s3"]),
        "left_anti",
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        sole.join(F.broadcast(s), sole["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    quarter. Selective order-date + returnflag predicates both push to the
    scans before the joins; customer/nation broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        # rank on integer-scaled exact revenue: a partition-order double sum
        # could flip the top-20 boundary between engines (num.py rationale)
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast(
                    "long"
                )
            ).alias("_rev4")
        )
        .orderBy(F.col("_rev4").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (F.col("_rev4") / F.lit(10000.0)).alias("revenue"),
            round4_expr(F.col("c_acctbal")).alias("acctbal"),
            "n_name",
        )
    )


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-parser + correlated-scalar-subquery surface (spark.sql entry):
    orders 1.5x above their own customer's average price. Catalyst decorrelates
    this into an aggregate + self-join on o_custkey — one shuffle, no
    per-row subquery execution."""
    ensure_engine_confs(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               floor(o_totalprice * 10000 + 0.5) / 10000 AS totalprice
        FROM orders_v o
        WHERE o_totalprice > 1.5D * (
            SELECT sum(CAST(round(o2.o_totalprice * 10000) AS BIGINT))
                   / (10000.0D * count(o2.o_totalprice))
            FROM orders_v o2
            WHERE o2.o_custkey = o.o_custkey)
        """
    )


def q_grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with heterogeneous sets ((region), (nation),
    ()) — the general form rollup/cube are shorthands for; via spark.sql to
    exercise the SQL parser path. One hash aggregate with set expansion."""
    ensure_engine_confs(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("gs_nation")
    _t(spark, sf_dir, "region").createOrReplaceTempView("gs_region")
    return spark.sql(
        """
        -- 10000.0D: Spark SQL parses a bare 10000.0 literal as DECIMAL,
        -- which would turn the whole expression (and schema) decimal
        SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
               floor((sum(CAST(round((o_totalprice) * 10000) AS BIGINT)) / 10000.0D) * 10000 + 0.5) / 10000 AS revenue,
               count(*) AS n_orders
        FROM gs_orders
        JOIN gs_customer ON o_custkey = c_custkey
        JOIN gs_nation ON c_nationkey = n_nationkey
        JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): orders with at least one line
    shipped more than 60 days after ordering. Catalyst decorrelates the
    EXISTS into a left-semi join on o_orderkey with the date residual."""
    ensure_engine_confs(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("ex_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("ex_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM ex_orders o
        WHERE EXISTS (
            SELECT 1 FROM ex_lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND unix_micros(CAST(l.l_shipdate AS TIMESTAMP))
                  - unix_micros(CAST(o.o_orderdate AS TIMESTAMP)) > 60 * 86400000000)
        GROUP BY o_orderpriority
        """
    )


def q_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets surface: (event_type x day-of-week) with all four
    grouping combinations. dow is computed with pure int64 arithmetic (ts is
    ns since epoch; float division would lose precision above 2^53)."""
    ev = _t(spark, sf_dir, "events")
    week_ns = 7 * 24 * 3600 * SEC
    day_ns = 24 * 3600 * SEC
    d = ev.withColumn("dow", F.expr(f"(ts % {week_ns}) div {day_ns}"))
    return (
        d.cube("event_type", "dow")
        .agg(exact_sum4_expr(F.col("value")).alias("total_value"), F.count("*").alias("n_events"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow"), F.lit(-1)).cast("long").alias("dow"),
            "total_value",
            "n_events",
        )
    )


def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: day x event_type value matrix. The pivot value list is
    explicit, so the schema is static (no extra pass to discover columns) and
    the plan is a single hash aggregate."""
    ev = _t(spark, sf_dir, "events")
    day_ns = 24 * 3600 * SEC
    types = ["click", "error", "purchase", "signup", "view"]
    r = (
        ev.withColumn("day", F.col("ts") - F.col("ts") % F.lit(day_ns))
        .groupBy("day")
        .pivot("event_type", types)
        # integer-scaled exact sum per pivot cell (order-immune; num.py)
        .agg(F.sum(F.round(F.col("value") * 10000).cast("long")))
    )
    for t in types:
        r = r.withColumn(t, F.col(t) / F.lit(10000.0))
    return r


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface: ROWS-frame moving average, lag/lead with
    defaults, ntile — all over one (event_type, day) partition ordering, so
    Spark evaluates every function in a single window exchange."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day_ns = 24 * 3600 * SEC
    # day totals carried as integer-scaled longs: every frame function
    # (moving avg, lag delta, lead) folds exact integers and divides once
    daily = (
        ev.withColumn("day", F.col("ts") - F.col("ts") % F.lit(day_ns))
        .groupBy("event_type", "day")
        .agg(F.sum(F.round(F.col("value") * 10000).cast("long")).alias("_dv4"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wma = w.rowsBetween(-2, 0)
    return daily.select(
        "event_type",
        "day",
        (F.col("_dv4") / F.lit(10000.0)).alias("day_value"),
        round4_expr(F.sum("_dv4").over(wma) / (F.lit(10000.0) * F.count("_dv4").over(wma))).alias(
            "ma3"
        ),
        ((F.col("_dv4") - F.lag("_dv4", 1, 0).over(w)) / F.lit(10000.0)).alias("delta_prev"),
        (F.lead("_dv4", 1, 0).over(w) / F.lit(10000.0)).alias("next_value"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF/lateral-view surface: posexplode of the whitespace token array
    (one-row-to-many-rows generator, the flatMap shape). Bounded to 50 docs
    so the oracle compare stays cheap; the plan is a shuffle-free Generate.

    Deliberately NOT via _t(): spread()'s repartition is a shuffle barrier
    that would keep the doc_id predicate from reaching the parquet scan —
    the whole text payload would shuffle just to keep 50 rows. A raw read
    lets the filter push down (row-group skipping on doc_id min/max)."""
    ensure_engine_confs(spark)
    docs = _fixture_read(spark, f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 50)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    return docs.select("doc_id", F.posexplode(toks).alias("pos", "token")).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "token"
    )


def q_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: collect_set / sort_array / array_join /
    array_contains per user. One shuffle on user_id; the array never leaves
    the aggregate (scalar outputs), so result size stays user-bounded."""
    ev = _t(spark, sf_dir, "events")
    types = F.sort_array(F.collect_set("event_type"))
    r = ev.groupBy("user_id").agg(
        F.array_join(types, ",").alias("types_csv"),
        F.size(types).cast("long").alias("n_types"),
        F.element_at(types, 1).alias("first_type"),
        F.array_contains(types, "purchase").alias("has_purchase"),
    )
    return r


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function surface (upper/substr/translate/lpad/
    regexp_extract/concat_ws) — shuffle-free map-only projection, fully
    inside whole-stage codegen."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).cast("long").alias("cust_num"),
        F.substring("c_mktsegment", 1, 3).alias("seg3"),
        F.translate("c_name", "0123456789", "##########").alias("masked"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat_ws("|", F.lower("c_mktsegment"), F.col("c_custkey").cast("string")).alias("seg_key"),
    )


def q_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-key + time-range join: for every error event, how many clicks
    the same user made in the preceding 5 minutes. Executed via the
    bucket decomposition (timeops.range_join_bucketed): a HASH join on
    (user, time-bucket) + exact residual — never the per-key nested loop a
    raw BETWEEN join degrades to. Outer semantics recovered by aggregating
    the inner pairs and left-joining the counts back."""
    from kadiyadb_spark.functions import timeops as TO

    # µs precision for oracle comparability (see q_asof_join)
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts") - F.col("ts") % F.lit(1000))
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    pairs = TO.range_join_bucketed(errors, clicks, ["user_id"], lower=-5 * 60 * SEC, upper=0)
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("_n"))
    return errors.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce("_n", F.lit(0)).cast("long").alias("n_prior_clicks"),
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) re-layout round-trip: cluster events by interleaved
    (time, user) bits, write, read back, aggregate. The oracle aggregates
    the ORIGINAL table — re-layout must be content-preserving; the skipping
    payoff (every cluster column's per-file min-max span narrow) is
    quantified in tests/test_layout.py."""
    import tempfile

    from kadiyadb_spark.layout import quantize_expr, zorder_layout

    ensure_engine_confs(spark)
    ev = normalize_ts(_fixture_read(spark, f"{sf_dir}/events.parquet"), "ts")
    qt = quantize_expr(F.col("ts"), T0, T_END, bits=8)
    qu = quantize_expr(F.col("user_id"), 0, 10_000, bits=8)
    out = f"{tempfile.mkdtemp(prefix='kdb_z_')}/events_z"
    zorder_layout(ev, [qt, qu], num_files=8).write.parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum4_expr(F.col("value")).alias("total_value"),
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout join: orders and customer are persisted bucketed (and
    per-bucket sorted) on the customer key, then joined WITHOUT any Exchange
    or re-sort — the write-time shuffle is the amortized one, the plan
    property the 100 TB fact-to-fact join story rests on
    (plan-asserted in tests/test_layout.py). The oracle joins the original
    tables: bucketing must be content-preserving."""
    import tempfile

    from kadiyadb_spark.layout import write_bucketed

    ensure_engine_confs(spark)
    loc = tempfile.mkdtemp(prefix="kdb_bkt_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS kdb_bkt LOCATION '{loc}'")
    orders = _fixture_read(spark, f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    )
    customer = _fixture_read(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    write_bucketed(orders, "kdb_bkt.orders_b", ["o_custkey"], 8, sort_cols=["o_custkey"])
    write_bucketed(customer, "kdb_bkt.customer_b", ["c_custkey"], 8, sort_cols=["c_custkey"])
    j = spark.table("kdb_bkt.orders_b").join(
        spark.table("kdb_bkt.customer_b"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        exact_sum4_expr(F.col("o_totalprice")).alias("total_price"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing (concat-and-chunk): documents tokenized, laid
    end-to-end per shard, sliced into 512-token chunks; one row per
    (shard, chunk) with exact doc/token accounting. No UDF anywhere — a
    shard-partitioned window cumsum + explode(sequence) + groupBy
    (functions/packing.py scale notes)."""
    from kadiyadb_spark.functions import packing as PK

    docs = _t(spark, sf_dir, "documents")
    return PK.pack_chunks(docs, seq_len=512, num_shards=8)


_SRC_SCHEMA_DDL = "event_id long, ts long, user_id long, event_type string, value double"


def _roundtrip_source_agg(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Re-materialize events in a row format (JSONL/CSV), read back with an
    EXPLICIT schema (inference costs an extra full scan at scale), and
    aggregate. The oracle aggregates the original parquet — so the format
    round-trip must be value-exact, doubles included (both writers emit
    shortest round-trip decimal reprs). At 100 TB row formats live only at
    the ingest boundary: land them to parquet/Delta immediately; this entry
    IS that boundary."""
    import tempfile

    ensure_engine_confs(spark)
    ev = normalize_ts(_fixture_read(spark, f"{sf_dir}/events.parquet"), "ts").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = f"{tempfile.mkdtemp(prefix='kdb_src_')}/events_{fmt}"
    w = ev.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", True)
    getattr(w, fmt)(path)
    r = spark.read.schema(_SRC_SCHEMA_DDL)
    if fmt == "csv":
        r = r.option("header", True)
    back = getattr(r, fmt)(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum4_expr(F.col("value")).alias("total_value"),
        F.min("event_id").alias("first_event"),
    )


def q_json_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round-trip (write -> schema-pinned read -> agg)."""
    return _roundtrip_source_agg(spark, sf_dir, "json")


def q_csv_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip (write -> schema-pinned read -> agg)."""
    return _roundtrip_source_agg(spark, sf_dir, "csv")


def q_orc_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip (write -> schema-pinned read -> agg) — the
    columnar interchange format a Hive-era lake still speaks; unlike the
    row formats, the ORC reader keeps column pruning and predicate
    pushdown, so it is a first-class resident format, not just an ingest
    boundary."""
    return _roundtrip_source_agg(spark, sf_dir, "orc")


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation correctness gate: the two-phase salted aggregation
    (hot key spread over 16 reducers, then a tiny combine shuffle) must land
    on EXACTLY the plain GROUP BY values — the oracle is the plain SQL."""
    # value pre-scaled to exact 4dp longs: both salted phases then fold
    # integers (associative at any salt/partition layout), one division back.
    ev = _t(spark, sf_dir, "events").withColumn(
        "value4", F.round(F.col("value") * 10000).cast("long")
    )
    r = SK.salted_sum_count(ev, ["event_type"], "value4", unique_col="event_id", buckets=16)
    return r.select(
        "event_type",
        round4_expr(F.col("total") / F.lit(10000.0)).alias("total"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-join correctness gate: the skewed side salts into 8 buckets and
    the dim side replicates 8x so shuffle keys become (key, salt) — results
    must equal the plain join (oracle). Covers the hot-key case AQE's
    skew-join can't re-plan (broadcast-ineligible dim, pre-shuffle skew)."""
    ev = _t(spark, sf_dir, "events").withColumn("c_custkey", F.col("user_id"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = SK.salted_join(ev, c, on="c_custkey", buckets=8, unique_col="event_id")
    return j.groupBy("c_mktsegment").agg(
        exact_sum4_expr(F.col("value")).alias("total_value"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_stats(_t(spark, sf_dir, "documents"))


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.language_id(_t(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(_t(spark, sf_dir, "documents"))


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis exponential keys over md5-derived dyadic uniforms,
    sampling.py:weighted_sample): 40 documents drawn proportional to
    n_chars. TakeOrderedAndProject selection — k rows per partition, no
    global sort; the oracle replays the identical key arithmetic."""
    from kadiyadb_spark.functions.sampling import weighted_sample

    return weighted_sample(
        _t(spark, sf_dir, "documents"), k=40, weight_col="n_chars"
    )


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (text.py:char_entropy): per-doc
    Shannon entropy with per-character terms quantized to exact longs, so
    the sum is order-free and both engines replay identical integers; the
    Spark side is a shuffle-free run-length fold over the sorted char
    array (no (doc,char) explode)."""
    return TX.char_entropy(_t(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(_t(spark, sf_dir, "documents"))


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 50th document plays the eval set;
    flag corpus docs sharing any word 5-gram with it (n_hits = distinct
    matched benchmark grams). Broadcast the tiny benchmark gram set; the
    corpus side is map-side explode + broadcast join + one groupBy."""
    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return TX.decontaminate(docs, benchmark, n=5)


def q_ngram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate DISCOVERY: the corpus's over-frequent word bigrams
    (frequency > 1/1024 of all gram occurrences — dyadic, exact floor in
    any engine; a real cut: 636 of 916 distinct bigrams pass at sf0.01)
    — pure composition of word_ngrams_expr and the two-pass Misra-Gries
    heavy_hitters; raw grams never shuffle, only per-partition candidates
    + the recount (functions/sketch.py:heavy_hitters)."""
    from kadiyadb_spark.functions.sketch import heavy_hitters

    grams = _t(spark, sf_dir, "documents").select(
        F.explode(TX.word_ngrams_expr(F.col("text"), 2)).alias("gram")
    )
    return heavy_hitters(grams, ["gram"], threshold_frac=1 / 1024)


def q_text_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL decontamination: remove only the 10-word spans touched by
    a benchmark 5-gram (boundary-crossing grams contaminate every span
    they overlap), keep the rest of the doc; fully-dirty docs stay
    visible with empty text. Same broadcast-gram shape as
    text_decontaminate (functions/text.py:decontaminate_spans)."""
    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return TX.decontaminate_spans(docs, benchmark, n=5, words_per_span=10)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination — the 100 TB form of
    text_decontaminate: a ~num_bits-bounded Bloom filter of the eval grams
    broadcasts instead of the gram strings (3 orders smaller at 10^8
    grams), a vectorized numpy probe drops clean grams map-side, and the
    exact verify join removes false positives — the RESULT is
    bit-identical to the exact operator, so this entry shares its SQL
    oracle (functions/text.py:bloom_decontaminate; construction collects
    set-bit indices, bounded by filter size, never gram count)."""
    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return TX.bloom_decontaminate(docs, benchmark, n=5, num_bits=1 << 18)


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication census: MinHash near-dup pairs rolled up to
    a symmetric source x source matrix — where a curator sees mirrored
    crawls and cross-feed replication. Pair side broadcasts (dup-volume
    bounded); the corpus contributes a two-column pruned scan and never
    shuffles (functions/dedup.py:cross_source_matrix)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(
        docs, num_hashes=8, bands=4, shingle_k=8, threshold=0.1
    )
    return D.cross_source_matrix(docs, pairs)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition metrics (Gopher-style quality gate): all four
    metrics — duplicate token/bigram fractions AND the top-token fraction —
    are shuffle-free array expressions; the top-token count folds a run
    length over the doc's SORTED token array in one pass (plan-asserted
    zero-shuffle, tests/test_plans.py)."""
    return TX.repetition_score(_t(spark, sf_dir, "documents"))


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-threshold boilerplate removal (CCNet/C4 line-dedup rule
    over 3-word spans): spans in >= 2 distinct docs are template chrome and
    vanish from EVERY doc. One span-keyed agg; the filter join broadcasts
    the frequency table while it fits and falls back to a same-key shuffle
    join at scale; one doc-keyed rebuild. Never collected to the driver."""
    return TX.remove_boilerplate(
        _t(spark, sf_dir, "documents"), words_per_span=3, min_docs=2
    )


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (RAG corpus prep): 16-token windows,
    stride 12 (4-token overlap), trailing partial kept, pure-suffix
    windows dropped. Map-side only — array slicing in the projection plus
    one posexplode, zero shuffles (functions/text.py:chunk_documents)."""
    return TX.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_words=16, stride=12
    )


def q_rag_hashed_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free retrieval pipeline, end to end: chunk the corpus
    (overlapping 16/12 windows), vectorize chunks AND queries with the
    hashing trick (64-bucket md5 bag-of-words, L2-normalized — no fitted
    model to ship), brute-force cosine, rank top-5 per query on the
    4dp-ROUNDED score (identical-content chunks tie exactly and fall to
    the id tie-break on both engines — same device as the PQ rankers).
    Docs 0-2 play the queries; chunks of docs >= 10 are the corpus.
    Scale: scores via the broadcast-query numpy matmul kernel; the hashing
    and chunking are map-side; one ranking shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    chunks = TX.chunk_documents(docs.filter(F.col("doc_id") >= 10), 16, 12).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("vec_id"),
        F.col("chunk").alias("text"),
    )
    base = TX.hashed_bow(chunks, dim=64, id_col="vec_id")
    queries = TX.hashed_bow(
        docs.filter(F.col("doc_id") < 3).select(
            F.col("doc_id").alias("query_id"), "text"
        ),
        dim=64,
        id_col="query_id",
    ).select("query_id", F.col("embedding").alias("query_vec"))
    scored = SIM.cosine_scores_pandas(base, queries)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.select("query_id", "vec_id", round4_expr(F.col("_cos")).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-span removal (C4's curation step, fixed
    10-word spans standing in for sentence units): each distinct span
    survives only at its globally first (doc_id, span_idx); docs rebuilt
    from survivors. Skew-proof: first-occurrence via groupBy(span) + min
    struct (map-side combine), never a window rank over span."""
    return TX.span_dedup(_t(spark, sf_dir, "documents"), words_per_span=10)


def q_streaming_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING closure of the persisted near-dup index: docs < 166 are the
    pre-indexed accepted history; two deterministic micro-batches ([166,332)
    then >= 332, ordered by file mtime) stream through stream_index_dedup —
    each batch probed against the index, decisions appended, accepted docs
    fed BACK into the index so batch 2 is checked against batch 1's
    survivors. The oracle replays the same two-step acceptance cascade in
    SQL."""
    import os
    import tempfile

    from kadiyadb_spark.streaming.ingest import read_decisions, stream_index_dedup

    ensure_engine_confs(spark)
    tmp = tempfile.mkdtemp(prefix="kdb_sidx_")
    docs = _t(spark, sf_dir, "documents")
    idx = D.MinHashIndex.build(
        docs.filter(F.col("doc_id") < 166), f"{tmp}/idx", num_hashes=8, bands=4, shingle_k=8
    )
    raw = _fixture_read(spark, f"{sf_dir}/documents.parquet")
    src = f"{tmp}/incoming"
    os.makedirs(src)
    slices = ["doc_id >= 166 AND doc_id < 332", "doc_id >= 332"]
    for i, pred in enumerate(slices):
        sdir = f"{tmp}/slice{i}"
        raw.filter(pred).coalesce(1).write.parquet(sdir)
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = f"{src}/batch{i}.parquet"
        os.rename(f"{sdir}/{part}", dst)
        # file source processes oldest-mtime first: pin the batch order
        t = 1_700_000_000 + i * 3600
        os.utime(dst, (t, t))
    stream = (
        spark.readStream.schema(raw.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_index_dedup(stream, idx, f"{tmp}/decisions", f"{tmp}/ckpt", min_est=0.5)
    q.awaitTermination()
    # committed (manifest-resolved) view: staged-but-uncommitted segments
    # from a crashed batch would be invisible here — exactly-once audit
    return read_decisions(spark, f"{tmp}/decisions")


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (Rae et al. 2021 §A1.1): word-count band,
    mean-word-length band, symbol ratio, alphabetic-word fraction, the
    two-stopword rule, and the conjunction verdict. Shuffle-free map scan —
    composes with text_repetition for the paper's full filter."""
    return TX.gopher_rules(_t(spark, sf_dir, "documents"))


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: top-25 word pairs by pointwise mutual
    information with a min-count floor — the phrase detector feeding
    tokenizer vocab candidates. All counts exact integers, PMI one double
    expression (products in DOUBLE, no long overflow at corpus scale)
    quantized 4dp, rank on the scaled long with lexicographic ties
    (functions/text.py:collocations)."""
    from kadiyadb_spark.functions.text import collocations

    return collocations(_t(spark, sf_dir, "documents"), min_count=5, top_k=25)


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN graph: every vector's top-5 cosine neighbors within
    its IVF bucket (N-vs-N, the building block under graph dedup and
    hard-negative mining). Ranks order on the 4dp-ROUNDED cosine with
    neighbor-id ties; one centroid-keyed shuffle, numpy matmul per bucket
    (functions/similarity.py:knn_graph)."""
    from kadiyadb_spark.functions.similarity import knn_graph

    return knn_graph(_t(spark, sf_dir, "embeddings"), k=5, num_centroids=8)


def q_sim_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-outlier census (similarity.py:embedding_outliers): flag
    vectors whose cosine to their OWN centroid falls in the bucket's
    exact bottom decile — the "drop mis-embedded docs" curation pass.
    Assignment + cosine in one map-side numpy kernel; the per-bucket
    tail cut is the exact scaled-long rank interpolation; the flag is a
    PURE INTEGER inequality (10*cos4 < (10-rem)*lo4 + rem*hi4), so the
    outlier decision is engine- and layout-free. Born r09 post-cap ->
    leads the r10 gate."""
    from kadiyadb_spark.functions.similarity import embedding_outliers

    return embedding_outliers(_t(spark, sf_dir, "embeddings"), num_centroids=8)


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (Jelinek-Mercer, lam=0.75): per-doc
    cross-entropy + perplexity under the corpus's own bigram model — the
    quality rung above unigram_lm (catches shuffled-word gibberish).
    Per-bigram surprisal quantized to 4dp BEFORE the doc mean, so the
    average is an exact integer fold, never a partition-order log sum
    (functions/text.py:bigram_lm_score)."""
    from kadiyadb_spark.functions.text import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents"))


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM scoring: per-doc cross-entropy (nats) and
    perplexity under the corpus's own unigram distribution — the cheap
    CCNet-style LM-quality ranking. One explode feeds both the vocab build
    and the scoring join; frequency table broadcasts (vocab-sized under
    Zipf); the only corpus-sized shuffle is the doc-keyed average."""
    return TX.unigram_lm_score(_t(spark, sf_dir, "documents"))


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality census over lineitem: per-column null count, EXACT
    distinct cardinality, min/max — ONE aggregation job for all columns
    (multi-distinct plans as a single Expand: one scan, one reduce), then a
    1-row stack unpivot. approx=True (HLL sketches) is the 100 TB scheduled
    form; exact is the default so the oracle can gate it."""
    from kadiyadb_spark.functions.profile import profile_columns

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_shipdate", F.col("l_shipdate").cast("date")
    )
    return profile_columns(
        li, ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate"]
    )


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (Jégou et al.
    2011; the FAISS IVF-PQ scan kernel): base vectors compress to m=4
    codes against deterministic per-subspace codebooks, each query
    precomputes an [m, ksub] dot-product table, and scoring is m table
    lookups per vector — the query never touches a base vector. The scan
    that ADC-scores a 100 TB float column reads ~2 TB of codes."""
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.pq_topk(base, queries, k=5, m=4, ksub=8)


def q_pipeline_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full quality-gate stack as one plan: Gopher + repetition gates are
    applied MAP-SIDE as filter expressions (gopher_pass_expr /
    dup_token_frac_expr — no metrics-frame join), then the unigram LM is
    trained on the SURVIVORS and the per-source report groups directly
    through carry_cols — zero joins back against the corpus. Thresholds
    are relaxed vs the paper's (fixture docs are synthetic word soup with
    ~1 stopword): min_tokens=30, min_stopword_hits=1, dup_frac<=0.8."""
    docs = _t(spark, sf_dir, "documents")
    gate = TX.gopher_pass_expr(
        F.col("text"), min_tokens=30, min_stopword_hits=1
    ) & (TX.dup_token_frac_expr(F.col("text")) <= F.lit(0.8))
    scored = TX.unigram_lm_score(docs.filter(gate), carry_cols=["source"])
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        # perplexity is 4dp-rounded (text.py unigram_lm_score), so the
        # integer-scaled sum is exact — avg() here flipped the 4th decimal
        # between local[8] and local[32] (r06 driver gate red).
        exact_avg4_expr(F.col("perplexity")).alias("avg_ppl"),
    )


def q_pipeline_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-MIXING stage end to end: heuristic quality gate ->
    temperature weights over the survivors -> downsample-only rates
    (each source's boost normalized by the max, so the most-boosted
    source keeps everything and the rest downsample proportionally) ->
    deterministic hash sample -> per-source audit. The driver touches
    ONLY the sources-count weights table; the corpus path is map-only
    plus one agg. Rate arithmetic is half-up at 4dp on BOTH engines so
    the bucket thresholds are integer-identical."""
    import math

    from kadiyadb_spark.functions.sampling import stratified_hash_sample, temperature_weights

    docs = _t(spark, sf_dir, "documents")
    gate = TX.gopher_pass_expr(
        F.col("text"), min_tokens=30, min_stopword_hits=1
    ) & (TX.dup_token_frac_expr(F.col("text")) <= F.lit(0.8))
    surv = docs.filter(gate)
    w = temperature_weights(surv, alpha=0.5)
    boosts = {r["source"]: r["boost"] for r in w.collect()}  # sources-count rows
    mx = max(boosts.values())
    rates = {s: math.floor(b / mx * 10000 + 0.5) / 10000 for s, b in boosts.items()}
    kept = stratified_hash_sample(surv, rates, strata_col="source", id_col="doc_id")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (w ∝ p^0.5, mT5/XLM-R-style): one
    corpus agg for per-source token shares, two broadcast scalar joins for
    normalization; emits the boost factor a hash sampler applies."""
    from kadiyadb_spark.functions.sampling import temperature_weights

    return temperature_weights(_t(spark, sf_dir, "documents"), alpha=0.5)


def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed (the FAISS billion-scale serving shape): IVF probes
    pick WHICH buckets are scored, PQ codes + per-query lookup tables are
    HOW — one fused map pass, raw-vector (non-residual) coding so the
    oracle is the composition of the two tested pieces."""
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.ivfpq_topk(base, queries, k=5, num_centroids=8, nprobe=2, m=4, ksub=8)


def q_sim_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ + exact refine (FAISS IndexRefineFlat): the ADC code scan
    shortlists 15 candidates per query, then ONLY those ids are re-scored
    against full vectors with exact cosine and re-ranked on the 4dp-rounded
    value (similarity.py:ivfpq_refined_topk). Recall approaches exact
    search while the heavy pass still reads codes, not vectors."""
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.ivfpq_refined_topk(
        base, queries, k=5, rerank=3, num_centroids=8, nprobe=2, m=4, ksub=8
    )


def q_sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF-PQ serving index: build once (codes partitioned by
    centroid bucket — the ~50x-compressed scan body), search by reading
    ONLY the probed buckets' codes (PartitionFilters; base vectors never
    touched after build). Same deterministic centroids/codebooks as
    sim_ivfpq_topk, so the one-shot operator's oracle gates the index
    path end-to-end (similarity.py:IVFPQIndex)."""
    import tempfile

    base, queries = _queries_vs_base(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="kdb_ivfpq_")
    idx = SIM.IVFPQIndex.build(base, f"{tmp}/idx", num_centroids=8, m=4, ksub=8)
    return idx.search(queries, k=5, nprobe=2)


def q_sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL coding (Jégou et al. 2011 §IV, the FAISS
    default): codes quantize v - centroid(v) under codebooks TRAINED on the
    residual distribution — finer reconstruction at the same m x ksub
    budget. r13 (VERDICT r12 item 2): training is the QUANTIZED per-subspace
    Lloyd (similarity.pq_codebooks_residual_lloyd — greedy maximin init + 3
    iterations on exact-integer quantized arithmetic, the same device as
    cluster._lloyd), so the oracle replays the trainer bit-for-bit and this
    entry carries a FULL value-hash gate instead of the float-k-means
    variant's rows-only check. Trained-vs-det recall stays pinned by
    tests/test_ivf_recall.py; the det-codebook twin ``sim_ivfpq_residual_det``
    gates the no-training ADC math."""
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.ivfpq_topk(
        base, queries, k=5, num_centroids=8, nprobe=2, m=4, ksub=8, residual=True,
        codebooks="lloyd",
    )


def q_sim_ivfpq_residual_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-coded IVF-PQ, oracle-gated: deterministic residual
    codebooks (subspace slices of the first-ksub residuals,
    similarity.pq_codebooks_residual_det) make every stage SQL-replayable —
    centroid assignment, residual encoding, the ADC cross-term tables
    (dot(q, centroid) + per-subspace lookups) and the reconstruction norm
    |centroid + decode(codes)| — so the residual scoring path itself gets a
    value-hash gate, not just the rows-only check of the trained variant."""
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.ivfpq_topk(
        base, queries, k=5, num_centroids=8, nprobe=2, m=4, ksub=8, residual=True,
        codebooks="deterministic",
    )


def q_dedup_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: persist a MinHash LSH band index over the
    'accepted corpus' (doc_id < 400), then probe the 'incoming batch'
    (doc_id >= 400) against it — corpus text is never re-read, the batch's
    banded signatures broadcast, and candidates are scored by signature
    agreement. The continuous-ingest shape of dedup_minhash_lsh."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    idx = D.MinHashIndex.build(
        corpus, f"{tempfile.mkdtemp(prefix='kdb_mhidx_')}/idx", num_hashes=8, bands=4, shingle_k=8
    )
    return idx.query(batch, min_est=0.5)


def q_dedup_index_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE incremental ingest: build the index on doc_id < 300, append an
    accepted batch (300-399) with MinHashIndex.add (LSM append into the
    band partitions), fold the appended files with compact, then probe
    doc_id >= 400. The oracle is the ONE-SHOT build over doc_id < 400 —
    build+add must be indistinguishable from having indexed everything up
    front."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 300)
    growth = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    batch = docs.filter(F.col("doc_id") >= 400)
    idx = D.MinHashIndex.build(
        corpus, f"{tempfile.mkdtemp(prefix='kdb_mhadd_')}/idx", num_hashes=8, bands=4, shingle_k=8
    )
    idx.add(growth)
    idx.compact()
    return idx.query(batch, min_est=0.5)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction entry. The synthetic docs carry no PII, so each doc is
    salted with deterministic contact strings (every 3rd an email, every 5th
    a phone, every 7th an IP — same expression in the oracle) and the
    operator must find and replace exactly those."""
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com"))
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" call +1 555 000 "), (F.col("doc_id") % 9000 + 1000))
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256), F.lit(".1"))
                   ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return TX.redact_pii(salted)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified hash sampling — corpus mixture construction.
    Three sources at different rates, the rest dropped; the keep-decision is
    a per-row md5-bucket expression (map-only, reproducible, nested across
    rates). Output: per-source kept counts + min/max doc_id as content
    witness."""
    from kadiyadb_spark.functions.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, strata_col="source", id_col="doc_id"
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: document frequency + collection frequency per
    token, top-50 by df (token tiebreak). The foundation table for stopword
    discovery and IDF weighting. ONE explode + ONE groupBy(token) — df and
    cf come from the same shuffle via count_distinct(doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens_expr(F.col("text"))
    all_t = docs.select("doc_id", F.explode(toks).alias("token"))
    return (
        all_t.groupBy("token")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
            F.count("*").alias("coll_freq"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("token").asc())
        .limit(50)
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (docs 0..19): term frequency joined
    against the corpus document-frequency table (broadcast — vocabulary is
    tiny relative to the corpus), idf = ln((N+1)/(df+1)). Rank ties break on
    token; equal (tf, df) pairs produce bit-identical scores on both
    engines, so the cut is deterministic."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens_expr(F.col("text"))
    all_t = docs.select("doc_id", F.explode(toks).alias("token"))
    n_docs = float(docs.count())
    df_t = all_t.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tf = (
        all_t.filter(F.col("doc_id") < 20)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    scored = tf.join(F.broadcast(df_t), "token").withColumn(
        "tfidf",
        F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "token",
            F.col("rnk").cast("long").alias("rnk"),
            round4_expr(F.col("tfidf")).alias("tfidf"),
        )
    )


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash window fingerprint (winnowing min-selection)."""
    return TX.winnow_fingerprint(_t(spark, sf_dir, "documents"), k=8, num_mins=4)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"), num_hashes=8, bands=4, shingle_k=8, threshold=0.1
    )


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-fingerprint near-dup candidates: docs sharing >= 2 of their 4
    min window hashes. Local-feature blocking — robust to prepended/appended
    content that shifts whole-document signatures."""
    return D.winnow_near_duplicates(
        _t(spark, sf_dir, "documents"), k=8, num_mins=4, min_shared=2
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: MinHash-LSH pairs -> connected
    components (iterative min-label propagation; an iterative algorithm the
    oracle mirrors with a recursive CTE). Output: every clustered doc with
    its cluster id (= min doc_id reachable through the pair graph)."""
    pairs = D.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"), num_hashes=8, bands=4, shingle_k=8, threshold=0.1
    )
    return D.connected_components(pairs)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-overlap (containment) pairs over rare-shingle profiles —
    the doc-in-doc detector symmetric Jaccard is blind to. Inverted-index
    blocking on the shingles themselves (the blocking join IS the
    intersection count); max_df=10 stoplists boilerplate shingles and
    bounds pairs per shingle (functions/dedup.py:containment_pairs)."""
    from kadiyadb_spark.functions.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), max_df=10, threshold=0.5
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST canonical selection over the near-dup clusters: per
    MinHash cluster, the member with the highest heuristic quality score
    survives (score quantized to a scaled long before the argmax; ties to
    the lowest id) — the curation policy that keeps the cleanest mirror,
    not the first-crawled one (functions/dedup.py:cluster_representatives)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(
        docs, num_hashes=8, bands=4, shingle_k=8, threshold=0.1
    )
    clusters = D.connected_components(pairs)
    return D.cluster_representatives(clusters, TX.quality_score(docs))


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation — the composition the LLM-pipeline
    operators exist for: exact dedup (hash groupBy, keep min id) -> MinHash
    near-dup clustering (keep each cluster's min-id representative) ->
    quality-score filter -> per-source token budget. Scale shape: one
    content-hash shuffle, one LSH band join, a star-contraction loop over
    the tiny pair graph, a source-keyed agg; no all-pairs stage anywhere."""
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    # Persisted: feeds the minhash shingle table, the representative join
    # AND the quality scorer — without it the content-hash dedup (scan +
    # md5 groupBy + join) re-runs three times. The explicit repartition
    # matters: at tiny SF, AQE coalesces the dedup groupBy's output to ONE
    # post-shuffle partition, and persisting that serializes the whole
    # shingle/minhash stage onto one core (measured 26 s vs 3 s at sf0.1).
    # An explicit numPartitions pins the exchange (AQE honors it), so the
    # persisted frame materializes wide; at real scale the dedup output is
    # already wide and this is a cheap no-op-sized shuffle of survivors.
    survivors = (
        D.dedup_exact(docs)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = D.minhash_near_duplicates(
        survivors, num_hashes=8, bands=4, shingle_k=8, threshold=0.1
    )
    clusters = D.connected_components(pairs)
    reps = (
        survivors.join(F.broadcast(clusters), survivors["doc_id"] == clusters["node"], "left")
        .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select("doc_id", "source", "text")
    )
    qual = (
        TX.quality_score(reps)
        .filter(F.col("quality") >= 0.5)  # rounded 4dp on BOTH engines
        .select("doc_id", "n_tokens", "quality")
    )
    return (
        reps.join(qual, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # ORDER-INDEPENDENT average: qualities are 4dp-rounded, so the
            # 1e4-scaled values are integers; summing them as longs is exact
            # and immune to partition-order FP drift (a plain avg() flipped
            # the 4th decimal when the survivors repartition changed the
            # reduce order). One division at the end, then round4 — the
            # oracle mirrors the same formula.
            round4_expr(
                F.sum(F.round(F.col("quality") * 1e4).cast("long"))
                / (F.lit(1e4) * F.count(F.lit(1)))
            ).alias("avg_quality"),
        )
    )


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global corpus shuffle: each doc gets a deterministic
    pseudo-random (shard, pos) address — training-order randomization with
    no rand()/seed plumbing, identical across engines (md5-key arithmetic
    with an exact DuckDB twin). One shuffle, parallel per shard, no global
    sort (functions/sampling.py)."""
    from kadiyadb_spark.functions.sampling import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, num_shards=8).select("doc_id", "shard", "pos")


def q_shard_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard materialization, end to end: write the corpus as 8
    deterministically-shuffled shards with an atomic stats-carrying
    manifest commit, then return the COMMITTED per-shard stats (read from
    the manifest, not recomputed) — so the oracle's SQL recount gates the
    whole write+commit path (functions/packing.py:write_shards)."""
    import tempfile

    from kadiyadb_spark.functions import packing as PK

    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="kdb_shards_")
    PK.write_shards(docs, f"{tmp}/shards", num_shards=8)
    stats = PK.shard_stats(spark, f"{tmp}/shards")
    return spark.createDataFrame(
        [(int(s["shard"]), int(s["n_rows"])) for s in stats],
        "shard long, n_rows long",
    )


def q_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus -> training-ready sequences, end to end: exact dedup (content
    hash, keep min id) -> quality floor -> concat-and-chunk packing into
    512-token chunks. The last mile of the curation story: what leaves this
    query is the shape a trainer consumes. Scale: one md5 groupBy, map-only
    scoring, one packing shuffle."""
    from kadiyadb_spark.functions import packing as PK

    docs = _t(spark, sf_dir, "documents")
    survivors = D.dedup_exact(docs)
    qual = TX.quality_score(survivors).filter(F.col("quality") >= 0.5).select("doc_id")
    kept = survivors.join(qual, "doc_id").select("doc_id", "text")
    return PK.pack_chunks(kept, seq_len=512, num_shards=8)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment as a pure function of the doc id: hash
    bucket -> named split (map-only, no sort/sampling pass, stable under
    corpus growth). Returns per-split doc and char totals."""
    from kadiyadb_spark.functions.sampling import split_assign

    docs = _t(spark, sf_dir, "documents")
    return (
        split_assign(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling (exact quota, reproducible): the
    5 hash-first docs of every source — the eval-set carving primitive.
    One window shuffle by group (functions/sampling.py skew note)."""
    from kadiyadb_spark.functions.sampling import sample_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_per_group(docs, k=5, group_col="source").select(
        "doc_id", "source"
    )


def q_text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_t(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3 over the 4-chunk blocking —
    a SOUND pigeonhole geometry (max_hamming < chunks, validated r13).
    The born-r11 call asked hamming <= 6 over 4 chunks, which silently
    missed every pair whose differing bits spread across all chunks AND,
    once blocked soundly, matches ~40% of ALL pairs on this fixture —
    not a dedup threshold at 32 bits. 3/32 is; recall at it is exact."""
    return D.simhash_near_duplicates(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard over consecutive-id pairs (deterministic blocking
    so the oracle is cheap; the LSH entry covers candidate generation)."""
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    pairs = ids.join(docs.select(F.col("doc_id").alias("id_b")), on="id_b", how="inner").select("id_a", "id_b")
    # Unpersisted by design: shingling is a shuffle-free map expression, so
    # each join branch recomputes it inside its own shuffle-write stage —
    # cheaper than leaking a persisted frame the caller can't unpersist
    # (the previous persist here forced bench to clearCache between queries).
    sh = docs.select("doc_id", D.word_shingles_expr(F.col("text"), 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        pairs.join(a, pairs["id_a"] == F.col("a.doc_id"))
        .join(b, pairs["id_b"] == F.col("b.doc_id"))
        .select(
            "id_a",
            "id_b",
            round4_expr(
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.size(F.array_union("a.sh", "b.sh")).cast("double")
            ).alias("jaccard"),
        )
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_duplicates(_t(spark, sf_dir, "embeddings"), threshold=0.35)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


def _queries_vs_base(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    base = emb.filter(F.col("vec_id") >= 5)
    return base, queries


def q_sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction top-k (similarity.py:maxsim_topk):
    queries and docs are MULTI-vector (8 consecutive fixture embeddings
    per token bag, ids div 8), score = per-query-token max cosine summed
    — with each max quantized to a 4dp scaled long BEFORE the sum, so
    ranking is an exact-integer order the oracle replays with list ops.
    One doc-keyed shuffle + broadcast query matrix + per-batch local
    top-k. Born r10 -> gates inside the r10 cap."""
    emb = _t(spark, sf_dir, "embeddings")
    qt = emb.filter(F.col("vec_id") < 16).select(
        F.expr("vec_id div 8").alias("query_id"), "embedding"
    )
    dt = emb.filter(F.col("vec_id") >= 16).select(
        F.expr("vec_id div 8").alias("doc_id"), "embedding"
    )
    return SIM.maxsim_topk(dt, qt, k=5)


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column analytics: per-label vector counts and norm
    statistics — the sanity table a pipeline checks before indexing (zero
    vectors, norm drift, label balance). Norms via the sequential JVM fold
    (one pass; matches DuckDB's list_sum fold order)."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = SIM.norm_expr(F.col("embedding").cast("array<double>"))
    # Quantize the norm per row FIRST (round4 is monotone, so min/max are
    # unchanged), then average the 4dp values exactly — avg() of raw
    # doubles depends on partition summation order at the floor boundary.
    d = emb.select("label", round4_expr(norm).alias("_n"))
    return d.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        exact_avg4_expr(F.col("_n")).alias("avg_norm"),
        F.min("_n").alias("min_norm"),
        F.max("_n").alias("max_norm"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar quantization of the embedding column (symmetric absmax —
    the 4x float32->int8 storage cut an ANN serving tier takes): per
    vector, amax, the code CHECKSUMS (plain and absolute long sums — exact
    integers, array-free gate columns) and the max reconstruction error.
    Every step is elementwise double math on identical operands
    (similarity.quantize_int8), so the oracle replays it bit-for-bit."""
    q = SIM.quantize_int8(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        round4_expr(F.col("amax")).alias("amax4"),
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("codes_sum"),
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, c: a + F.abs(c)
        ).alias("codes_abs_sum"),
        round4_expr(F.col("max_abs_err")).alias("max_err4"),
    )


def q_embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation to 16 of 64 dims + L2 renorm
    (similarity.matryoshka_truncate) — the serving-tier cut a
    Matryoshka-trained model supports without re-encoding, the standard
    step before int8 quantization in a tiered ANN layout. Gate columns
    are array-free exact projections (the embedding_quantize device):
    4dp prefix norm and the plain/absolute long checksums of the
    4dp-quantized renormalized components — every step elementwise
    double math the oracle replays with DuckDB list ops (the sequential
    aggregate fold matches list_reduce's association; 0.0 + x == x for
    the squares). Born r10 -> gates inside the r10 cap."""
    m = SIM.matryoshka_truncate(_t(spark, sf_dir, "embeddings"), dims=16)
    c4 = F.transform(
        F.col("vec"), lambda e: F.floor(e * 10000 + F.lit(0.5)).cast("long")
    )
    return m.select(
        "vec_id",
        round4_expr(F.col("prefix_norm")).alias("norm4"),
        F.aggregate(c4, F.lit(0).cast("long"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.aggregate(
            c4, F.lit(0).cast("long"), lambda a, c: a + F.abs(c)
        ).alias("code_abs_sum"),
    )


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query, the 5 most-similar base vectors
    with a DIFFERENT label — the contrastive-training sampler. The label
    mask applies inside the Arrow kernel BEFORE the per-batch top-k
    prune, so the ranking shuffle stays k x batches x queries
    (functions/similarity.py:hard_negatives)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    base = emb.filter(F.col("vec_id") >= 5)
    return SIM.hard_negatives(base, queries, k=5)


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.cosine_topk(base, queries, k=5)


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.ivf_topk(base, queries, k=5, num_centroids=8, nprobe=2)


def q_sim_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF index path: build once to parquet (assignments
    partitioned by centroid_id), then search with partition-pruned bucket
    scans. Same centroids/probe order as ivf_topk, so the same SQL oracle
    gates it — proving index-then-search lands on identical results."""
    import tempfile

    base, queries = _queries_vs_base(spark, sf_dir)
    idx = SIM.IVFIndex.build(base, f"{tempfile.mkdtemp(prefix='kdb_ivf_')}/idx", num_centroids=8)
    return idx.search(queries, k=5, nprobe=2)


def q_sim_ivf_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest: build the persisted IVF index on vec_id <
    300, append the rest with IVFIndex.add (assigned against the EXISTING
    centroids, appended into the touched bucket partitions), compact, then
    search. Oracle = the one-shot full-index search (sim_ivf_index's SQL):
    the deterministic centroids are the 8 lowest base ids, which the build
    subset contains, so build+add must land on identical results."""
    import tempfile

    base, queries = _queries_vs_base(spark, sf_dir)
    first = base.filter(F.col("vec_id") < 300)
    rest = base.filter(F.col("vec_id") >= 300)
    idx = SIM.IVFIndex.build(first, f"{tempfile.mkdtemp(prefix='kdb_ivfadd_')}/idx", num_centroids=8)
    idx.add(rest)
    idx.compact()
    return idx.search(queries, k=5, nprobe=2)


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, queries = _queries_vs_base(spark, sf_dir)
    return SIM.lsh_topk(base, queries, k=5, nbits=6)


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one payload row -> up to 8 typed frame rows
    (the one-in-many-out shape of video frame extraction), pure built-ins."""
    media = M.to_media_table(_t(spark, sf_dir, "documents"))
    frames = M.frame_sample(media, every_n_bytes=64, max_frames=8)
    return frames.select(
        "asset_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.length("frame_payload").cast("long").alias("frame_len"),
        F.md5(F.col("frame_payload").cast("binary")).alias("frame_md5"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: nearest-neighbor sample of the fake-decoded pixel
    grid to 8x8, checksum of sampled bytes as the verifiable output."""
    media = M.to_media_table(_t(spark, sf_dir, "documents"))
    r = M.resize_images(media, out_w=8, out_h=8, fake=True)
    return r.select(
        "asset_id",
        F.col("out_w").cast("long").alias("out_w"),
        F.col("out_h").cast("long").alias("out_h"),
        "pix_checksum",
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.to_media_table(_t(spark, sf_dir, "documents"))
    feats = M.decode_images(media, fake=True)
    return feats.select(
        "asset_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("first_byte").cast("long").alias("first_byte"),
        F.col("byte_sum_mod").cast("long").alias("byte_sum_mod"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-sampling: overlapping 64-byte windows at stride 32 over
    the payload, per-window integer energy + zero crossings (the fake PCM
    is byte-centered, so every feature is integer-exact cross-engine —
    see functions/multimodal.py:audio_windows). Output aggregated per
    asset so the hashed frame stays corpus-sized."""
    media = M.to_media_table(_t(spark, sf_dir, "documents"))
    wins = M.audio_windows(media, window=64, stride=32, fake=True)
    return wins.groupBy("asset_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("energy").alias("total_energy"),
        F.sum("zero_crossings").alias("total_zc"),
        F.max("energy").alias("peak_energy"),
    )


def _hex_media(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Media frame whose payloads the REAL codecs can decode AND a SQL
    oracle can reproduce: each doc's md5 hex (32 ASCII bytes, identical
    cross-engine) repeated 6x = 192 deterministic bytes, packed as an
    8x8x3 PNG (zlib + CRC chunks) or a PCM8 RIFF WAV (samples = byte-128);
    for 'jpeg', a 16x16 GRAYSCALE image of four FLAT 8x8 blocks (block j's
    value = sum of hex chars 8j..8j+7 mod 256) encoded at quality=100 —
    flat blocks under all-ones quantizers round-trip the lossy codec
    BIT-EXACTLY (functions/jpeg.py), so SQL can predict decoded pixels.
    Construction is an Arrow mapInPandas pass — same shape a real pipeline
    uses to wrap raw bytes into the media table."""
    from kadiyadb_spark.functions import codecs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("hx")
    )

    def mk(batches):
        import numpy as np
        import pandas as pd

        from kadiyadb_spark.functions import jpeg as J

        for pdf in batches:
            payloads = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                buf = np.frombuffer((hx * 6).encode("ascii"), dtype=np.uint8)
                if kind == "png":
                    payloads.append(codecs.encode_png(buf.reshape(8, 8, 3)))
                elif kind == "jpeg":
                    vals = buf[:32].reshape(4, 8).sum(axis=1) % 256
                    blocks = vals.reshape(2, 2).astype(np.uint8)
                    img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                    payloads.append(J.encode_jpeg(img, quality=100))
                elif kind == "avi":
                    # two 8x8x3 frames: the hex bytes, then hex bytes + 1
                    # (hex chars <= 'f' = 102, so +1 never wraps a byte)
                    f0 = buf.reshape(8, 8, 3)
                    f1 = (buf + 1).astype(np.uint8).reshape(8, 8, 3)
                    payloads.append(codecs.encode_avi(np.stack([f0, f1]), fps=10))
                elif kind == "gif":
                    # <= 64 distinct hex-char triples -> GIF-paletteable;
                    # LZW is lossless so SQL predicts the decoded pixels.
                    # Interlace every other doc to gate BOTH row layouts.
                    payloads.append(
                        codecs.encode_gif(
                            buf.reshape(8, 8, 3), interlace=bool(len(payloads) % 2)
                        )
                    )
                elif kind == "gif_scene":
                    # scene-cut fixture: frame k = hex bytes + OFF[k], a
                    # UNIFORM shift, so the mean abs diff of a transition
                    # is exactly |OFF[k+1]-OFF[k]| — SQL-predictable with
                    # no pixel math ('f'=102 + 90 never wraps a byte).
                    # Deltas 2/38/3/47 straddle any threshold in (3, 38).
                    off = [0, 2, 40, 43, 90]
                    nf = 3 + int(did) % 3
                    fr = np.stack(
                        [
                            (buf + off[k]).astype(np.uint8).reshape(8, 8, 3)
                            for k in range(nf)
                        ]
                    )
                    payloads.append(codecs.encode_gif_frames(fr, fps=20))
                elif kind == "gif_anim":
                    # ANIMATED GIF: 3..5 full-canvas frames, frame k = hex
                    # bytes + k (hex chars <= 'f' = 102, +4 never wraps), so
                    # frame k's pixel sum is 6*S + 192*k — SQL-predictable.
                    # Distinct colors <= 32 triples x 5 shifts = 160 <= 256.
                    nf = 3 + int(did) % 3
                    fr = np.stack(
                        [(buf + k).astype(np.uint8).reshape(8, 8, 3) for k in range(nf)]
                    )
                    payloads.append(codecs.encode_gif_frames(fr, fps=20))
                else:
                    payloads.append(
                        codecs.encode_wav(buf.astype(np.int16) - 128, rate=16000, bits=8)
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "media_type": {"wav": "audio", "avi": "video", "gif_anim": "video",
                                   "gif_scene": "video"}.get(kind, "image"),
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return docs.mapInPandas(mk, schema=M.MEDIA_SCHEMA)


def q_multimodal_png_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end to end — no fake kernel anywhere: PNG bytes are
    built per doc (codecs.encode_png) and decoded back by the pure-numpy
    PNG decoder inside decode_images(fake=False) (zlib inflate + scanline
    unfilter per the W3C spec); the oracle recomputes true width/height
    and the decoded-pixel sum from md5() hex arithmetic in SQL."""
    feats = M.decode_images(_hex_media(spark, sf_dir, "png"), fake=False)
    return feats.select(
        F.col("asset_id").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("byte_sum_mod").cast("long").alias("pix_sum"),
    )


def q_multimodal_gif_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF codec end to end: per-doc payloads are LZW-compressed by
    codecs.encode_gif (palette from the <=64 distinct hex-char triples;
    every other doc interlaced) and decoded back by the spec-complete
    variable-width LZW decoder inside decode_images(fake=False). LZW is
    lossless, so the oracle predicts decoded width/height/pixel-sum from
    md5() hex arithmetic alone — same contract as multimodal_png_real,
    reached through an entirely different wire format."""
    feats = M.decode_images(_hex_media(spark, sf_dir, "gif"), fake=False)
    return feats.select(
        F.col("asset_id").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("byte_sum_mod").cast("long").alias("pix_sum"),
    )


def q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY-NTH-FRAME sampling over ANIMATED GIF containers (VERDICT r09
    item 8 — the video-sampling leg): per-doc 3..5-frame animations
    (frame k = hex bytes + k) are decoded and composited by
    codecs.decode_gif_frames inside video_frames(every_n=2), emitting one
    row per SAMPLED frame — the frame-extraction stage of a video
    training pipeline, with only KB-scale stats rows leaving the Arrow
    kernel. LZW is lossless and full-canvas frames composit to
    themselves, so the oracle predicts each sampled frame's pixel sum as
    (6*S + 192*k) % 1000003 from md5 hex arithmetic alone."""
    media = _hex_media(spark, sf_dir, "gif_anim")
    return M.video_frames(media, every_n=2).select(
        F.col("asset_id").alias("doc_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("pix_sum_mod").cast("long").alias("pix_sum"),
    )


def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation over animated-GIF containers — the clip-boundary
    stage of a video pipeline (multimodal.py:scene_cuts): per consecutive
    frame transition, the integer-exact mean absolute pixel diff and a
    cut flag. The gif_scene fixture shifts every frame UNIFORMLY
    (frame k = hex bytes + OFF[k], deltas 2/38/3/47 straddling the 10.0
    threshold), so the oracle predicts each transition's mad as
    |OFF[k+1]-OFF[k]| with no pixel math — LZW losslessness carries the
    prediction through the real codec."""
    media = _hex_media(spark, sf_dir, "gif_scene")
    return M.scene_cuts(media, threshold=10.0).select(
        F.col("asset_id").alias("doc_id"),
        "from_idx",
        "to_idx",
        "mad",
        "is_cut",
    )


def q_multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-format decode census over a MIXED corpus — the observability a
    skip-posture crawl pipeline needs (how much decoded vs dropped, by
    container): docs map to PNG / flat-block JPEG / WAV payloads the real
    codecs decode (doc_id % 4 = 0/1/2) or raw text bytes nothing can
    (= 3). Counts fold INSIDE each Arrow batch, so the shuffle carries
    O(batches x formats) rows (functions/multimodal.py:decode_stats);
    total_bytes is dropped from the gated projection only because zlib /
    entropy-coded payload sizes aren't SQL-predictable."""
    from kadiyadb_spark.functions import codecs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("hx"), "text"
    )

    def mk(batches):
        import numpy as np
        import pandas as pd

        from kadiyadb_spark.functions import jpeg as J

        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, hx, tx in zip(pdf["doc_id"], pdf["hx"], pdf["text"]):
                buf = np.frombuffer((hx * 6).encode("ascii"), dtype=np.uint8)
                k = did % 4
                if k == 0:
                    types.append("image")
                    payloads.append(codecs.encode_png(buf.reshape(8, 8, 3)))
                elif k == 1:
                    vals = buf[:32].reshape(4, 8).sum(axis=1) % 256
                    img = np.repeat(
                        np.repeat(vals.reshape(2, 2).astype(np.uint8), 8, 0), 8, 1
                    )
                    types.append("image")
                    payloads.append(J.encode_jpeg(img, quality=100))
                elif k == 2:
                    types.append("audio")
                    payloads.append(
                        codecs.encode_wav(buf.astype(np.int16) - 128, rate=16000, bits=8)
                    )
                else:
                    types.append("image")
                    payloads.append(tx.encode("utf-8"))
                ids.append(did)
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "media_type": types,
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = docs.mapInPandas(mk, schema=M.MEDIA_SCHEMA)
    return M.decode_stats(media, fake=False).select(
        "media_type", "format", "n_assets", "n_decoded", "n_failed"
    )


def q_multimodal_avi_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec end to end — the third leg of the multimodal
    contract: per-doc two-frame uncompressed AVI built by
    codecs.encode_avi, frames extracted back by the RIFF-walking decoder
    inside video_frames (one row per sampled frame, true dims + decoded
    pixel checksum). Uncompressed DIB frames round-trip bit-exactly, so
    the oracle reproduces per-frame pixel sums from md5 hex arithmetic."""
    media = _hex_media(spark, sf_dir, "avi")
    return M.video_frames(media, every_n=1).select(
        F.col("asset_id").alias("doc_id"),
        "frame_idx",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("pix_sum_mod").cast("long").alias("pix_sum"),
    )


def q_multimodal_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG codec end to end — the majority class of actual
    web-crawl images (VERDICT r07 gap #1): per-doc flat-block grayscale
    JPEGs built by functions/jpeg.py's encoder at quality=100 and decoded
    back by its T.81 decoder (Huffman entropy decode, dequant, IDCT) inside
    decode_images(fake=False). Flat 8x8 blocks under all-ones quantizers
    make the lossy roundtrip bit-exact, so the oracle recomputes the
    decoded-pixel sum from md5() hex arithmetic in SQL."""
    feats = M.decode_images(_hex_media(spark, sf_dir, "jpeg"), fake=False)
    return feats.select(
        F.col("asset_id").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("byte_sum_mod").cast("long").alias("pix_sum"),
    )


def q_multimodal_wav_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec end to end: RIFF/PCM8 WAV bytes built per doc,
    parsed back by the real WAV decoder inside audio_windows(fake=False)
    (fmt/data chunk walk, unsigned-8 recentering), windowed 32/32 — six
    non-overlapping windows, each exactly one md5-hex copy, so the SQL
    oracle reproduces energy integer-exactly (hex bytes < 128 -> all
    samples negative -> zero crossings provably 0)."""
    wins = M.audio_windows(
        _hex_media(spark, sf_dir, "wav"), window=32, stride=32, fake=False
    )
    return wins.groupBy(F.col("asset_id").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum("energy").cast("long").alias("total_energy"),
        F.sum("zero_crossings").cast("long").alias("total_zc"),
        F.max("energy").cast("long").alias("peak_energy"),
    )


def q_fetch_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-set matcher (PromQL {event=~"click|error"}): one pushed-down
    scan with an IN predicate at level 1 plus the f2 wildcard fan-out,
    dense zero-filled like any fetch; the IN values also drive manifest
    data skipping (a segment skips only when its stats exclude EVERY
    listed value) — query.py:compile_pattern / database.py:_segment_paths."""
    return _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, [["click", "error"], "*"], RES, DUR),
        ["total"],
    )


def q_fetch_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL absent() (query.py:fetch_absent): one row per slot in a
    1-day window where user 7 recorded NO error event — the
    alert-on-missing-data primitive (a dead feed trips no threshold
    alert; absence is the signal). One pruned scan collapsed to distinct
    present buckets, anti-joined against a map-side generated slot spine.
    Born r10 -> gates inside the r10 cap."""
    from kadiyadb_spark.query import fetch_absent

    return fetch_absent(
        _cube(spark, sf_dir), WEEK0, WEEK0 + 24 * 3600 * SEC,
        ["error", "7"], RES, DUR,
    )


def q_fetch_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE regex matcher (PromQL {event=~"cl.*|sign.*"}): the Re pattern
    level compiles to an anchored Catalyst RLIKE — metacharacter matching
    the exact/IN forms cannot express (query.py:Re). Manifest stats still
    prune segments on positive evidence (the regex is evaluated against
    the recorded value sets, refusing to act on escape-bearing patterns so
    a dialect divergence can only cost a full read). The DuckDB twin is
    regexp_full_match. Born r09 post-cap -> leads the r10 gate."""
    from kadiyadb_spark.query import Re

    return _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, [Re("cl.*|sign.*"), "*"], RES, DUR),
        ["total"],
    )


def q_fetch_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-evaluation batch (query.py:fetch_multi): THREE patterns —
    exact, exact, regex — answered by ONE shared scan of the cube; each
    row is tagged with the array of queries it matches and exploded, so
    a row matching two queries appears once per query and non-matching
    rows never leave the scan. Sparse (densify=False) semantics with a
    leading query label; the oracle is the UNION ALL of per-pattern
    selects. Born r09 post-cap -> leads the r10 gate."""
    from kadiyadb_spark.query import Re, fetch_multi

    return _round_doubles(
        fetch_multi(
            _cube(spark, sf_dir),
            WEEK0,
            WEEK1,
            {
                "clicks": ["click", "*"],
                "errs": ["error", "*"],
                "c_or_s": [Re("c.*|sign.*"), "*"],
            },
            RES,
            DUR,
        ),
        ["total"],
    )


def q_fetch_multi_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-DEPTH rule-evaluation batch (VERDICT r09 item 7): a depth-1
    rollup query, a depth-2 wildcard and a depth-2 exact answered by ONE
    shared scan — the output carries field columns to the batch's max
    depth and the depth-1 query's rows leave f2 NULL, exactly how the
    cube stores rollup rows, so real Prometheus rule groups (which mix
    aggregation levels) evaluate in one call. Oracle: UNION ALL of a
    cube1 select (f2 NULL-cast) and cube2 selects. Born r10 -> gates
    inside the r10 cap."""
    from kadiyadb_spark.query import fetch_multi

    return _round_doubles(
        fetch_multi(
            _cube(spark, sf_dir),
            WEEK0,
            WEEK1,
            {
                "all_clicks": ["click"],
                "clicks_by_user": ["click", "*"],
                "err_user_7": ["error", "7"],
            },
            RES,
            DUR,
        ),
        ["total"],
    )


def q_fetch_sum_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL sum by (user): per-user per-slot totals summed ACROSS event
    types — the non-prefix aggregation the write-time rollup cannot hold
    (prefix rollup sums the TAIL; this fans the HEAD in). One scan at
    depth 2, one (f2, bucket) aggregation (query.py:series_sum_by)."""
    from kadiyadb_spark.query import series_sum_by

    return series_sum_by(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["*", "*"], keep_levels=[2],
        resolution=RES, duration=DUR,
    )


def q_fetch_agg_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL avg/min/max/count by (event_type): per-type per-slot stats
    of the user-level series' totals — completes the aggregation-operator
    family beside sum by. One scan at depth 2, one (f1, bucket)
    aggregation; avg is the integer-scaled exact mean, min/max compare
    4dp-quantized values (query.py:series_agg_by)."""
    from kadiyadb_spark.query import series_agg_by

    return series_agg_by(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["*", "*"], keep_levels=[1],
        resolution=RES, duration=DUR,
    )


def q_fetch_quantile_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL quantile by (event_type): the INSTANT median across the
    collapsed user series at each slot — the "median shard" panel, the
    across-series complement of fetch_quantile_window. Dyadic phi=0.5
    over exact scaled longs makes the type-7 interpolation bit-identical
    cross-engine (query.py:series_quantile_by)."""
    from kadiyadb_spark.query import series_quantile_by

    return series_quantile_by(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["*", "*"], keep_levels=[1],
        phi=0.5, resolution=RES, duration=DUR,
    )


def q_fetch_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slot share: each event type's fraction of the slot's total
    across all depth-1 series — the normalized stacked-area view. One
    bucket-keyed window over exact scaled longs; the share is one
    long/long division (query.py:series_share)."""
    from kadiyadb_spark.query import series_share

    return series_share(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["*"], resolution=RES, duration=DUR
    )


def q_fetch_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology-migration read: click+view remapped into 'engagement' at
    level 1, per-user slot series re-aggregated under the new naming —
    label_replace + sum by as one operator, literal mapping (no regex,
    engine-free). One scan + one aggregation with exact integer sums
    (query.py:series_remap)."""
    from kadiyadb_spark.query import series_remap

    return series_remap(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["*", "*"], level=1,
        mapping={"click": "engagement", "view": "engagement"},
        resolution=RES, duration=DUR,
    )


def q_fetch_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn rate (the SRE-workbook alerting pattern):
    error/click ratio over 5-slot and 60-slot trailing windows, each
    normalized by the 1% error budget; fires only when BOTH exceed the
    factor. Dense slot axis, exact long window folds, one division per
    burn (query.py:series_burn_rate)."""
    from kadiyadb_spark.query import series_burn_rate

    return series_burn_rate(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["error"], ["click"],
        slo=0.99, short_slots=5, long_slots=60, factor=100.0,
        resolution=RES, duration=DUR,
    )


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup over a normalized short field (the fuzzy-match
    mode for titles/URLs where token-set measures miss character noise):
    pairs sharing the leading token with levenshtein(head32) <= 8. Spark
    runs the LOSSLESS length-bucket blocking (same + adjacent bucket
    equi-joins, thresholded banded-DP verify); the oracle brute-forces all
    pairs within the token block — equality proves the bucket scheme
    misses nothing (functions/dedup.py:fuzzy_near_duplicates)."""
    from kadiyadb_spark.functions.dedup import fuzzy_near_duplicates

    head = F.lower(F.substring(F.col("text"), 1, 32))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        head.alias("head"),
        F.split_part(head, F.lit(" "), F.lit(1)).alias("w1"),
    )
    return fuzzy_near_duplicates(
        docs, text_col="head", id_col="doc_id", max_dist=8, block_cols=["w1"]
    )


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 over the corpus for a 3-term query — the lexical
    retrieval baseline beside hashed-BoW cosine. Every score input is an
    exact integer (tf/df/dl/N/T; dl/avgdl is ONE integer-ratio division),
    the per-term score is one double expression quantized at 4dp, the
    per-doc total an exact scaled-long fold, and the rank orders on that
    long (ties on doc_id) — engine-default-free end to end
    (functions/text.py:bm25_score)."""
    return TX.bm25_score(
        _t(spark, sf_dir, "documents"), ["merge", "filter", "window"], k=20
    )


def q_rag_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, fused: BM25 top-20 (lexical exact-match) and
    hashed-BoW cosine top-20 (soft bag-of-words — the model-free dense
    stand-in) for the same 3-term query, combined with Reciprocal Rank
    Fusion (functions/text.py:rrf_fuse). Integer-exact: each contribution
    is ONE integer division 1e6 div (60+rank) — only RANKS enter the
    fusion, so no score calibration across sources and no doubles in the
    fused output; n_sources exposes the agreement signal. Scale: both
    retrievals are the gated corpus-linear operators (local_topk bounds
    the cosine ranking shuffle); the fuse itself touches <= 40 rows.
    r14 (guide §1.2/§2.3): the two retrievers share ONE persisted
    outer-exploded token pass over the corpus (bm25_score drops its
    null-token marker rows itself) instead of each retriever re-scanning
    + re-tokenizing the corpus."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(TX.tokens_expr(F.col("text"))).alias("_tok")
    ).persist()
    lex = TX.bm25_score(
        docs, ["merge", "filter", "window"], k=20, toks=toks
    ).select("doc_id", "rank")
    base = TX.hashed_bow(docs, dim=64, toks=toks)
    qv = TX.hashed_bow(
        spark.createDataFrame(
            [(0, "merge filter window")], "query_id long, text string"
        ),
        dim=64,
        id_col="query_id",
    ).select("query_id", F.col("embedding").alias("query_vec"))
    scored = SIM.cosine_scores_pandas(base, qv, id_col="doc_id", local_topk=20)
    w = Window.orderBy(round4_expr(F.col("_cos")).desc(), F.col("doc_id").asc())
    dense = scored.select(
        "doc_id", F.row_number().over(w).cast("long").alias("rank")
    ).filter(F.col("rank") <= 20)
    fused = TX.rrf_fuse([lex, dense], k=10)
    # the fused top-10 is tiny: hold it on the driver so the shared token
    # pass is released before the entry returns
    try:
        return spark.createDataFrame(fused.collect(), fused.schema)
    finally:
        toks.unpersist()


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join reduction: a selective orders filter
    (1-URGENT, 1997-Q1) folds into an m-bit bitset (one JVM bit_or groupBy,
    shuffle bounded by m/64 words, no driver collect), lineitem is probed
    MAP-SIDE before any shuffle, and only survivors enter the real join.
    No false negatives => result == the plain join the oracle runs; false
    positives are removed by the join and cost only shuffle rows. The
    explicit form of Spark's runtime-filter/DPP idea, as a composable
    operator (functions/runtime_filter.py)."""
    from kadiyadb_spark.functions.runtime_filter import bloom_build, bloom_probe

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-04-01"))
        )
        .select("o_orderkey", "o_orderdate")
    )
    bloom = bloom_build(orders, "o_orderkey", m_bits=1 << 17, n_hashes=5)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_probe(li, "l_orderkey", bloom, m_bits=1 << 17, n_hashes=5)
    j = pruned.join(orders, pruned.l_orderkey == orders.o_orderkey)
    return j.groupBy(F.month("o_orderdate").cast("long").alias("o_month")).agg(
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        F.count(F.lit(1)).alias("n_items"),
        exact_sum4_expr(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("revenue"),
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-stage text normalization (functions/text.py:normalize_text):
    control-char strip -> unicode punctuation unification -> whitespace
    collapse -> trim, all JVM regexp/replace (no UDF, map-side only). The
    fixture text is ASCII-clean, so each doc is salted with deterministic
    curly quotes / NBSP / em-dash / bell-control / doubled spaces derived
    from doc_id — the oracle rebuilds the identical salt with chr() and
    replays the identical chain."""
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" “quoted”")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" café menu")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("—dash…\x07  double  spaced"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return TX.normalize_text(salted)


def q_url_domain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation domain census (functions/web.py): deterministic URLs
    salted from doc_id (7 hosts across 6 registrable domains; odd ids
    carry a query string), parsed with dialect-shared regexes, grouped by
    the registrable domain — the domain-prior/quota table a crawl
    pipeline joins back onto documents. Since r12 (VERDICT r11 item 4)
    the census DEFAULTS to the full-snapshot PSL path
    (psl.registrable_domain_psl over the vendored multi-depth rule table,
    broadcast joins only — plan-pinned by test_plans): the
    www.pref.aichi.jp host must census as the THREE-label pref.aichi.jp
    (jp prefecture rule) and foo.bar.ck under the *.ck wildcard — both
    shapes the two-label subset cannot resolve. The oracle is a
    hand-derived per-host PSL-algorithm ground truth (independent spec
    replay, not a code mirror). Map-side parsing + broadcast resolution;
    ONE domain-keyed groupBy is the only Exchange."""
    from kadiyadb_spark.functions.web import domain_census

    hosts = F.array(
        F.lit("news.example.com"),
        F.lit("cdn.example.org"),
        F.lit("blog.sample.net"),
        F.lit("www.example.com"),
        F.lit("shop.example.co.uk"),
        F.lit("www.pref.aichi.jp"),
        F.lit("foo.bar.ck"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://"),
            F.element_at(hosts, (F.col("doc_id") % 7).cast("int") + 1),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 2 == 1, F.lit("?ref=rss")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return domain_census(docs, size_col="n_chars")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build over the event stream: each user's
    event_type timeline collapsed into validity intervals [valid_from,
    valid_to) with a 1-based version — the value-change islands problem
    (sessionize is the time-gap variant), the warehouse primitive an as-of
    dimension join consumes. ONE user-keyed window Exchange; the run fold
    and interval-closing lead() reuse the same distribution
    (functions/analytics.py:scd2_intervals). Micros-truncated ts for
    oracle comparability (the asof_join device)."""
    from kadiyadb_spark.functions.analytics import scd2_intervals

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts") - F.col("ts") % F.lit(1000)
    )
    return scd2_intervals(ev, "user_id", "event_type", "ts", order_cols=["event_id"])


def q_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE INTO as a frame operator: a change set derived from
    1997 orders (latest order per customer wins; keys on a 23-cycle insert
    as brand-new customers, keys on a 17-cycle delete; the rest update
    c_acctbal to the order total) applied onto the customer snapshot —
    insert/update/delete in one pass (functions/cdc.py:merge_apply: one
    row_number dedup inside the change side's partitioning + one
    full-outer key join). The oracle replays the same relational
    decomposition; unknown ops raise_error rather than silently drop."""
    from kadiyadb_spark.functions.cdc import merge_apply

    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_nationkey", F.col("c_nationkey").cast("long")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    k = F.when(
        F.col("o_custkey") % 23 == 0, F.col("o_custkey") + 1000000
    ).otherwise(F.col("o_custkey"))
    changes = orders.select(
        k.alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(k % 17 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("o_totalprice").alias("c_acctbal"),
    )
    merged = merge_apply(cust, changes, "c_custkey", "seq")
    return merged.withColumn("c_acctbal", round4_expr(F.col("c_acctbal")))


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class merge_asof (pandas semantics: backward + tolerance):
    each purchase picks the user's most recent view within 1h — nearest
    match or NULL, never fall-through to an older row. The union-timeline
    window form (ONE user-keyed shuffle, no pairwise range expansion);
    right side pre-folded unique per (user, ts) per the operator contract
    (functions/timeops.py:merge_asof). The oracle is DuckDB's NATIVE
    ASOF LEFT JOIN — an independent implementation of the same
    semantics, the strongest gate shape."""
    from kadiyadb_spark.functions.timeops import merge_asof

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts") - F.col("ts") % F.lit(1000)
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = merge_asof(
        purchases,
        views,
        ts_col="ts",
        by_cols=["user_id"],
        right_cols=["view_value"],
        tolerance=3600 * SEC,
        direction="backward",
        left_order_col="event_id",
    )
    return _round_doubles(out, ["value", "view_value"])


def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup after canonicalization — the cheapest, highest-
    yield crawl dedup lever: mixed-case scheme/host, tracking params
    (utm_*/ref), param order and trailing slashes are all presentation,
    not identity. Salted URLs (4 surface variants per doc-id-div-4
    group) canonicalize via functions/web.py:url_canonicalize (JVM
    regexp + array filter/sort, map-side); the census keeps groups with
    >= 2 docs and the min-id representative."""
    from kadiyadb_spark.functions.web import url_canonicalize

    d = F.col("doc_id")
    host = F.when(d % 3 == 0, F.lit("News.Example.com")).otherwise(
        F.lit("news.example.com")
    )
    scheme = F.when(d % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://"))
    tail = (
        F.when(d % 4 == 0, F.lit("?utm_source=feed&id=7"))
        .when(d % 4 == 1, F.lit("/?id=7&utm_medium=x"))
        .when(d % 4 == 2, F.lit("?id=7"))
        .otherwise(F.lit("?ref=rss"))
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            scheme, host, F.lit("/p/"), F.expr("doc_id div 4"), tail
        ).alias("url"),
    )
    return (
        url_canonicalize(docs)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural privacy census: every customer row annotated with its
    (nation x segment) quasi-identifier group size and the k=10
    suppression flag — the governance pass a metadata release runs AFTER
    text-level PII redaction (functions/privacy.py:k_anonymity). One
    quasi-keyed window Exchange; the flag is an integer inequality,
    layout-proof."""
    from kadiyadb_spark.functions.privacy import k_anonymity

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("c_nationkey"), "c_mktsegment"
    )
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=10)


def q_privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization of event identifiers
    (functions/privacy.py:pseudonymize): user_id replaced by a 16-hex
    salted-hash token — joins/group-bys still work under the same salt,
    raw ids are unrecoverable without it. Map-side JVM md5; the census
    groupBy proves token-level aggregation equals raw-id aggregation
    (pseudonymization preserves analysis, the whole point)."""
    from kadiyadb_spark.functions.privacy import pseudonymize

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    tok = pseudonymize(ev, ["user_id"], salt="r10")
    return tok.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum4_expr(F.col("value")).alias("total_value"),
    )


def q_profile_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson over lineitem's numeric columns with exact
    DECIMAL(38,0) folds over min-recentered 4dp scaled longs (price-scale
    squares overflow int64 in thousands of rows; engine corr() accumulates
    doubles in partition order — the r07 flake class). One aggregation
    pass for every pair (functions/profile.py:column_correlations)."""
    from kadiyadb_spark.functions.profile import column_correlations

    return column_correlations(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots (even vs
    odd doc ids) over the n_chars ladder — the drift monitor between
    crawl versions. Integer counts + add-one smoothing keep every operand
    exact; each PSI term is one double expression quantized 4dp; the
    total is an exact scaled-long fold
    (functions/sketch.py:distribution_drift)."""
    from kadiyadb_spark.functions.sketch import distribution_drift

    docs = _t(spark, sf_dir, "documents")
    return distribution_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        [128.0, 192.0, 256.0, 320.0, 384.0, 448.0],
    )


def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf keyword extraction: each document's top-3 most characteristic
    terms (smoothed ln((N+1)/(df+1)) idf). tf/df/N are exact integers, the
    product is one double expression quantized at 4dp, and the per-doc rank
    orders on the scaled long with term-lexicographic ties — a total order
    in any engine (functions/text.py:keyword_terms)."""
    return TX.keyword_terms(_t(spark, sf_dir, "documents"), top_j=3)


def q_fetch_topk_instant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL INSTANT topk(3): the 3 loudest (event_type, user) series AT
    EACH SLOT — fetch_topk_series ranks range totals; this is the
    per-timestamp leaderboard. One bucket-keyed window over scaled longs;
    row_number ties break on the series path, so the ranking is a total
    order in any engine (query.py:series_topk_per_slot)."""
    from kadiyadb_spark.query import series_topk_per_slot

    return series_topk_per_slot(
        _cube(spark, sf_dir), WEEK0, WEEK0 + 6 * 3600 * SEC, ["*", "*"], k=3,
        resolution=RES, duration=DUR,
    )


def q_fetch_count_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL count_values: per slot, how many depth-1 series report each
    distinct total — the value-census view. Groups on the SCALED LONG
    (never the double), so the key is integer-exact in both engines
    (query.py:series_count_values)."""
    from kadiyadb_spark.query import series_count_values

    return series_count_values(
        _cube(spark, sf_dir), WEEK0, WEEK1, ["*"], resolution=RES, duration=DUR
    )


def q_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path transition census (the Sankey/Markov discovery view
    beside the funnel): consecutive-event hops per user timeline, counted
    as transitions + distinct users per (from, to). ONE user-keyed window
    Exchange; ts ties break on event_id so the timeline is a total order
    (functions/analytics.py:path_transitions)."""
    from kadiyadb_spark.functions.analytics import path_transitions

    return path_transitions(_t(spark, sf_dir, "events"), ts_col="ts")


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-budget sampling (trainer quotas are tokens, not
    rows): md5-ordered docs kept while the running token total before them
    is under budget — first crosser kept, overshoot <= one doc, ONE window
    shuffle (functions/sampling.py:sample_token_budget)."""
    from kadiyadb_spark.functions.sampling import sample_token_budget

    return sample_token_budget(_t(spark, sf_dir, "documents"), budget_tokens=800)




def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich 2016 / the GPT-2
    family): one corpus scan builds the distinct-word frequency table, then
    each merge is one pair-count aggregation + a JVM aggregate() symbol
    fold — no Python per word, lineage checkpoint-truncated per iteration
    (functions/bpe.py). Output is the trained merge table itself; the
    oracle replays the identical algorithm in SQL (list_reduce fold,
    count-desc/lex-asc tie-break) stage by stage."""
    from kadiyadb_spark.functions import bpe as BP

    # min_freq=1: the SQL oracle unconditionally replays _BPE_MERGES stages,
    # so the engine must not stop early on a low-count best pair — the two
    # sides may only diverge if the corpus runs out of pairs entirely
    # (impossible for 8 merges over the fixture corpora).
    merges = BP.train_bpe(
        _t(spark, sf_dir, "documents"), num_merges=_BPE_MERGES, min_freq=1
    )
    return BP.merges_df(spark, merges)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLICATION at corpus scale: replaying the trained merges in
    rank order = the greedy lowest-rank tokenization (the standard BPE
    equivalence), done ONCE per distinct word and joined back to
    occurrences — per-source exact token accounting for mixture budgeting
    (functions/bpe.py:tokenize_bpe)."""
    from kadiyadb_spark.functions import bpe as BP

    docs = _t(spark, sf_dir, "documents")
    # min_freq=1 to match the oracle's unconditional k-stage replay (see
    # q_bpe_train)
    merges = BP.train_bpe(docs, num_merges=_BPE_MERGES, min_freq=1)
    return BP.tokenize_bpe(docs, merges, carry_cols=["source"]).orderBy("source")


def q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> trained-vocab INTEGER ID SEQUENCES (the actual model
    input, not just token accounting): one row per (doc, position) with
    token string + lexicographic vocab id. Tokenization once per distinct
    word, one doc-keyed window for positions; gated against the k-stage
    DuckDB merge replay extended with the same vocab/position construction
    (functions/bpe.py:encode_ids). The vocab is CORPUS-wide (ids must not
    depend on which docs ship); the gate output is capped to doc_id < 50
    to keep the compared row volume sane."""
    from kadiyadb_spark.functions import bpe as BP

    docs = _t(spark, sf_dir, "documents")
    merges = BP.train_bpe(docs, num_merges=_BPE_MERGES, min_freq=1)
    return BP.encode_ids(docs, merges).filter(F.col("doc_id") < 50)


def q_bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_ids is encode_ids' exact inverse (functions/bpe.py): the
    Spark side runs the FULL train -> encode -> decode machine and emits
    the reconstructed text; the oracle is INDEPENDENT — plain whitespace
    normalization of the source documents, no merge replay at all — so
    the hash passes only if the entire tokenizer pipeline is lossless
    (the round-trip theorem: under the whitespace pre-tokenizer,
    decode(encode(x)) == single-space-normalized x). Born r09 post-cap ->
    leads the r10 gate."""
    from kadiyadb_spark.functions import bpe as BP

    docs = _t(spark, sf_dir, "documents")
    merges = BP.train_bpe(docs, num_merges=_BPE_MERGES, min_freq=1)
    enc = BP.encode_ids(docs, merges).filter(F.col("doc_id") < 50)
    return BP.decode_ids(enc).select("doc_id", "text")


def q_pack_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED packed sequences: encode_ids -> pack_ids, every token
    id at its (shard, chunk, position) in the concat-and-chunk stream,
    trailing partials dropped — the actual training tensors, end of the
    tokenizer pipeline. Corpus-wide vocab; packing over the doc_id < 100
    subset keeps gate volume sane (functions/packing.py:pack_ids)."""
    from kadiyadb_spark.functions import bpe as BP
    from kadiyadb_spark.functions.packing import pack_ids

    docs = _t(spark, sf_dir, "documents")
    merges = BP.train_bpe(docs, num_merges=_BPE_MERGES, min_freq=1)
    ids = BP.encode_ids(docs, merges).filter(F.col("doc_id") < 100)
    return pack_ids(ids, seq_len=128, num_shards=4)


def q_bpe_gpt2_pretok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2 pre-tokenization (Radford 2019 / tiktoken family) over the
    corpus: contractions, space-prefixed letter/number/punct runs, and the
    lookahead rule that a whitespace run before a word donates its last
    space to the word. RE2 (DuckDB) has no lookahead, so BOTH engines run
    the provably-equivalent marker construction (functions/bpe.py:
    gpt2_pretokens_expr) — which is exactly what lets this be hash-gated
    cross-engine. Output: the (pre-token, freq) vocabulary table, the one
    corpus scan BPE training starts from."""
    from kadiyadb_spark.functions import bpe as BP

    return BP.word_frequencies(_t(spark, sf_dir, "documents"), pretokenize="gpt2")

# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------



def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (functions/dq.py): six row-level
    expectations over orders compiled into ONE aggregation over ONE scan
    (each check is a sum((NOT cond)::long) column — adding a check never
    adds a pass), plus a referential-integrity expectation (every
    o_custkey exists in customer) as an aggregate-only left-anti join.
    Violation rates 4dp-floored. The batch-ingest gate a warehouse /
    training-data pipeline runs before accepting data."""
    from kadiyadb_spark.functions.dq import expect, expect_ref

    o = _t(spark, sf_dir, "orders")
    audit = expect(o, {
        "custkey_not_null": F.col("o_custkey").isNotNull(),
        "totalprice_positive": F.col("o_totalprice") > 0,
        "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
        "date_in_range": (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("2000-01-01")),
        "totalprice_under_cap": F.col("o_totalprice") <= 300000.0,
    })
    ri = expect_ref(o, "o_custkey", _t(spark, sf_dir, "customer"), "c_custkey")
    return audit.unionByName(ri)


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-corpus Lloyd k-means (functions/cluster.py) — the
    SemDeDup clustering stage: k=4 from the 4 lowest-id vectors, 2 exact
    iterations, final (cluster_id, n_vecs, inertia). Assignment is
    map-side (centroids are plan literals), the update's
    groupBy(cluster, dim) partial-combines to k*d rows per partition, and
    every fold is integer-exact (quantized terms) so the result is
    layout-proof at any parallelism; the driver only ever holds k*d
    doubles. The oracle replays the identical quantized recursion in
    DuckDB list ops."""
    from kadiyadb_spark.functions.cluster import kmeans_lloyd

    return kmeans_lloyd(_t(spark, sf_dir, "embeddings"), k=4, iters=2)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (functions/cluster.py:semdedup_prune; Abbas et al. 2023):
    k-means-cluster the embeddings with the exact quantized Lloyd
    recursion (2 iterations — the same clustering embedding_kmeans
    gates), then score cosine pairs WITHIN clusters only and keep the
    lowest id of each duplicate pair; per-cluster census of kept vs
    dropped. Threshold 0.35 sits in a measured 7e-5-wide empty band of
    the fixture's pair-cosine distribution (no FP-boundary flips between
    numpy and DuckDB). Clustering bounds the quadratic — ONE cluster-keyed
    shuffle, per-bucket numpy matmul; assignment is exact-integer, so
    bucket membership is layout-proof. r13 (VERDICT r12 item 6): k is now
    AUTO-DERIVED as max(4, ceil(n/125)) so buckets stay ~125-bounded as
    the corpus grows (k=4 at the sf0.01 gate — unchanged values; k=16 at
    sf0.1); the oracle replays the same integer ceil from its own count.
    Born r12."""
    from kadiyadb_spark.functions.cluster import semdedup_prune

    flags = semdedup_prune(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2, threshold=0.35,
        target_bucket=125,
    )
    return flags.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("kept").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).alias("n_dropped"),
    )


def q_fetch_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL clamp()/clamp_min()/clamp_max() over the dense week fetch
    (query.py:series_clamp): totals clamped into [2, 50] with 0/1
    per-bound flags — the recording-rule guard before ratio dashboards.
    Exact scaled-long comparisons; pure projection, NO Exchange beyond
    the fetch itself."""
    from kadiyadb_spark.query import series_clamp

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_clamp(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], lo=2.0, hi=50.0
    )


def q_privacy_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card governance (functions/privacy.py:luhn_audit):
    deterministic 16-digit candidates salted into documents (doc_id-keyed),
    detected as MAXIMAL 13-19 digit runs — ALL runs per doc, not just the
    first (VERDICT r11 item 3) — and validated with the Luhn fold, a pure
    JVM aggregate over the digit positions, no UDF. The mod-4 salting pins
    the two failure modes the r11 fix closed: variant 2 is a multi-run doc
    whose FIRST run is an invalid order id but whose second is a valid
    card (must count as a leak), and variant 3 carries a 24-digit tracking
    run that boundary-guarded extraction must exclude entirely rather than
    truncate to 19 digits. Per-source counts of candidates vs Luhn-valid
    (the real leaks) vs invalid; the only Exchange is the tiny source-keyed
    count fold."""
    from kadiyadb_spark.functions.privacy import luhn_audit

    d = F.col("doc_id")
    num = F.concat(
        F.lpad((d * 37 % F.lit(10 ** 15)).cast("string"), 15, "0"),
        (d % 10).cast("string"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(d % 4 == 0, F.concat(F.lit("order ref "), num, F.lit(" thanks")))
        .when(d % 4 == 1, F.concat(F.lit("card "), num, F.lit(" on file")))
        .when(d % 4 == 2, F.lit("ids 1234567890123456 then 4111111111111111 end"))
        .otherwise(F.lit("track 123456789012345678901234 no card"))
        .alias("text"),
    )
    return luhn_audit(docs, group_cols=["source"])


def q_text_script_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition census (functions/text.py:script_census)
    — the language-mix / mojibake detector before language-ID: docs salted
    with Cyrillic/Greek/CJK runs (doc_id-keyed, literal code points shared
    with the oracle), per-script character counts via regexp_count with
    LITERAL code-point ranges (the construct Java regex and RE2 read
    identically), dominant script by fixed priority. Counting happens in
    the scan projection; the (source, dominant) fold is the only
    Exchange."""
    from kadiyadb_spark.functions.text import script_census

    cyr = "".join(chr(c) for c in (1087, 1088, 1080, 1084, 1077, 1088))
    grk = "".join(chr(c) for c in (955, 972, 947, 959, 962))
    cjk = "".join(chr(c) for c in (20013, 25991, 23383))
    d = F.col("doc_id")
    salt = (
        F.when(d % 4 == 1, F.lit(" " + (cyr + " ") * 10))
        .when(d % 4 == 2, F.lit(" " + (grk + " ") * 10))
        .when(d % 4 == 3, F.lit(" " + (cjk + " ") * 15))
        .otherwise(F.lit(""))
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(F.substring(F.col("text"), 1, 40), salt).alias("text"),
    )
    return script_census(docs, group_cols=["source"])



def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL rank-family windows the engine had not yet gated: each
    customer's orders ranked by price under a deterministic TOTAL order
    (price desc, orderkey asc — ties never engine luck): ntile(4)
    quartile, percent_rank, cume_dist (both 4dp-floored). ONE
    customer-keyed window Exchange; all three functions share the same
    sort. Standard-SQL semantics on both gate engines."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        round4_expr(F.percent_rank().over(w)).alias("pct_rank"),
        round4_expr(F.cume_dist().over(w)).alias("cume"),
    )



def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two keyed snapshots
    (functions/cdc.py:snapshot_diff): the 1996 order book vs a derived
    next snapshot (13-cycle keys deleted, 7-cycle totals bumped +100,
    1997-January orders inserted) — one full-outer key join, per-column
    null-safe change detection (no hashes, NULL transitions register),
    change-sized output. The replication-drift / audit primitive beside
    cdc_merge_apply (which APPLIES changes; this RECOVERS them)."""
    from kadiyadb_spark.functions.cdc import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    old = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")
    kept = old.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0
        ).otherwise(F.col("o_totalprice")),
    )
    added = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-02-01"))
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")
    return snapshot_diff(
        old, kept.unionByName(added), ["o_orderkey"],
        ["o_totalprice", "o_orderstatus"],
    )



def q_fetch_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-model backtest over the dense week fetch
    (query.py:series_backtest): per series, one-step-ahead MAE of naive
    carry-forward vs seasonal-naive (period = 60 one-minute slots — an
    hour, matching the oracle's lag(t4, 60); VERDICT r11 item 5 aligned
    this doc with the code), winner by exact integer comparison over the
    identical eval set; a series too short for the period surfaces as an
    n_evals=0 'insufficient_history' diagnostic row rather than silently
    vanishing. The evaluation rung under fetch_seasonal_anomaly: measure
    the seasonal model before alerting on its residuals. One series-keyed
    window Exchange; the fold reuses the clustering."""
    from kadiyadb_spark.query import series_backtest

    r = _round_doubles(
        fetch(_cube(spark, sf_dir), WEEK0, WEEK1, ["click", "*"], RES, DUR), ["total"]
    )
    return series_backtest(
        r.select("f1", "f2", "bucket", "total"), ["f1", "f2"], period_slots=60
    )



def q_url_psl_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL-SNAPSHOT PSL resolution path driver-gated
    (functions/psl.py:registrable_domain_psl): hosts salted across six
    shapes exercising exact rules at two depths, a wildcard rule (*.ck),
    an exception rule (!www.ck) and the default rule, resolved via
    broadcast joins only (plan-pinned by test_plans), then censused by
    registrable domain. The oracle is the HAND-DERIVED PSL-algorithm
    ground truth per host shape — an independent spec replay, not a
    code mirror."""
    from kadiyadb_spark.functions.psl import psl_table, registrable_domain_psl

    hosts = F.array(
        F.lit("shop.example.co.uk"),   # exact depth-2 rule -> example.co.uk
        F.lit("a.b.example.com"),      # exact depth-1 rule -> example.com
        F.lit("foo.bar.ck"),           # wildcard *.ck -> foo.bar.ck
        F.lit("www.ck"),               # exception !www.ck -> www.ck
        F.lit("sub.www.ck"),           # under the exception name -> www.ck
        F.lit("nomatch.zz"),           # default rule -> nomatch.zz
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(hosts, (F.col("doc_id") % 6).cast("int") + 1).alias("host"),
    )
    psl = psl_table(spark, ["com", "co.uk", "*.ck", "!www.ck", "uk"])
    out = registrable_domain_psl(docs, "host", psl)
    return out.groupBy("registrable_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wildcard fetch over the tracked cube at sf0.001."""
    return q_fetch_wildcard(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (round-agnostic since r11; VERDICT r10 item 1):
    # the driver's correctness gate evaluates the FIRST 50 entries of this
    # dict, so the order is load-bearing. The WHOLE dict is now a pure
    # function of the staleness ledger: entries sort by (last driver-green
    # round ASC, name ASC), with never-driver-gated entries (new borns,
    # whose evidence is the CURRENT round's local all-entry oracle run —
    # the freshest evidence there is) sorting LAST. Each round's cap is
    # therefore exactly the oldest-evidence queue head; worst-case re-gate
    # latency is ceil(N/50) rounds BY CONSTRUCTION, and a born entry first
    # driver-gates within that same bound while being locally oracle-gated
    # every round in the meantime (ORACLE_LOCAL.md). The derivation lives in
    # scripts/staleness_ledger.py (git-tracked CORRECTNESS artifacts only,
    # so a freshly-dropped untracked artifact cannot redden the suite) and
    # tests/test_entry_rotation.py asserts list(queries()) equals it with
    # ZERO per-round constants. Rotation history r02-r10: see git log of
    # this docstring; r15 cap = the r10 remainder + the r11 block head
    # (CORRECTNESS_r14.json greened its 50, rotating them to the tail).
    return {
        # -- last driver-green r10 --
        "fetch_absent": q_fetch_absent,
        "fetch_cusum": q_fetch_cusum,
        "fetch_gaps": q_fetch_gaps,
        "fetch_group_share": q_fetch_group_share,
        "fetch_histogram_fraction": q_fetch_histogram_fraction,
        "fetch_holt_winters": q_fetch_holt_winters,
        "fetch_increase": q_fetch_increase,
        "fetch_irate": q_fetch_irate,
        "fetch_multi": q_fetch_multi,
        "fetch_multi_mixed": q_fetch_multi_mixed,
        "fetch_predict_linear": q_fetch_predict_linear,
        "fetch_quantile_window": q_fetch_quantile_window,
        "fetch_regex": q_fetch_regex,
        "fetch_resets": q_fetch_resets,
        "fetch_routed": q_fetch_routed,
        "fetch_rule_group": q_fetch_rule_group,
        "fetch_subquery": q_fetch_subquery,
        "graph_pagerank": q_graph_pagerank,
        "graph_triangles": q_graph_triangles,
        "heavy_hitters": q_heavy_hitters,
        "histogram_quantile": q_histogram_quantile,
        "multimodal_avi_real": q_multimodal_avi_real,
        "multimodal_decode_stats": q_multimodal_decode_stats,
        "multimodal_gif_frames": q_multimodal_gif_frames,
        "multimodal_jpeg_real": q_multimodal_jpeg_real,
        "multimodal_scene_cuts": q_multimodal_scene_cuts,
        "privacy_k_anonymity": q_privacy_k_anonymity,
        "privacy_pseudonymize": q_privacy_pseudonymize,
        "rag_rrf_fusion": q_rag_rrf_fusion,
        "scd2_history": q_scd2_history,
        "sim_maxsim": q_sim_maxsim,
        "sim_outliers": q_sim_outliers,
        "sketch_cm_joinsize": q_sketch_cm_joinsize,
        "sketch_countmin": q_sketch_countmin,
        "sketch_kmv_setops": q_sketch_kmv_setops,
        "sql_over_cube": q_sql_over_cube,
        "text_language_id": q_text_language_id,
        "text_normalize": q_text_normalize,
        "text_token_stats": q_text_token_stats,
        "topk_users": q_topk_users,
        "url_domain_census": q_url_domain_census,
        # -- last driver-green r11 --
        "anti_join": q_anti_join,
        "approx_distinct": q_approx_distinct,
        "approx_quantile": q_approx_quantile,
        "asof_join": q_asof_join,
        "bucketed_join": q_bucketed_join,
        "catalog_load": q_catalog_load,
        "corpus_shuffle": q_corpus_shuffle,
        "cube_changes": q_cube_changes,
        "cube_grouping": q_cube_grouping,
        "dataset_split": q_dataset_split,
        "dedup_clusters": q_dedup_clusters,
        "dedup_embedding": q_dedup_embedding,
        "dedup_exact": q_dedup_exact,
        "dedup_index_add": q_dedup_index_add,
        "dedup_index_query": q_dedup_index_query,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_winnow_pairs": q_dedup_winnow_pairs,
        "distinct_users": q_distinct_users,
        "expire_retention": q_expire_retention,
        "fetch_boundary": q_fetch_boundary,
        "fetch_exact": q_fetch_exact,
        "fetch_rollup_prefix": q_fetch_rollup_prefix,
        "fetch_wildcard": q_fetch_wildcard,
        "mixture_sample": q_mixture_sample,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_resize": q_multimodal_resize,
        "pack_sequences": q_pack_sequences,
        "pipeline_curate": q_pipeline_curate,
        "pipeline_pack": q_pipeline_pack,
        "q13_order_distribution": q13_order_distribution,
        "quality_gopher": q_quality_gopher,
        "sample_per_source": q_sample_per_source,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_ivf_add": q_sim_ivf_add,
        "sim_ivf_index": q_sim_ivf_index,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_pq_topk": q_sim_pq_topk,
        "streaming_agg_append": q_streaming_agg_append,
        "text_fingerprint": q_text_fingerprint,
        "text_quality": q_text_quality,
        "text_simhash": q_text_simhash,
        "text_span_dedup": q_text_span_dedup,
        "text_tfidf": q_text_tfidf,
        "text_vocab": q_text_vocab,
        "text_winnow": q_text_winnow,
        "unigram_lm": q_unigram_lm,
        # -- last driver-green r12 --
        "array_collect": q_array_collect,
        "bpe_tokenize": q_bpe_tokenize,
        "bpe_train": q_bpe_train,
        "cross_source_dups": q_cross_source_dups,
        "decontaminate_bloom": q_decontaminate_bloom,
        "embedding_stats": q_embedding_stats,
        "explode_tokens": q_explode_tokens,
        "fetch_in": q_fetch_in,
        "fetch_interpolate": q_fetch_interpolate,
        "fetch_offset": q_fetch_offset,
        "fetch_rate": q_fetch_rate,
        "fetch_ratio": q_fetch_ratio,
        "fetch_ratio_wildcard": q_fetch_ratio_wildcard,
        "fetch_smooth": q_fetch_smooth,
        "fetch_sum_by": q_fetch_sum_by,
        "fetch_topk_series": q_fetch_topk_series,
        "hll_distinct_rollup": q_hll_distinct_rollup,
        "json_extract": q_json_extract,
        "mixture_temperature": q_mixture_temperature,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_png_real": q_multimodal_png_real,
        "multimodal_wav_real": q_multimodal_wav_real,
        "null_semantics": q_null_semantics,
        "orc_source_agg": q_orc_source_agg,
        "percentiles": q_percentiles,
        "pii_redact": q_pii_redact,
        "pipeline_mix": q_pipeline_mix,
        "pipeline_quality": q_pipeline_quality,
        "profile_columns": q_profile_columns,
        "q11_important_stock": q11_important_stock,
        "q16_supplier_relation": q16_supplier_relation,
        "q18_large_orders": q18_large_orders,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "quality_model": q_quality_model,
        "rag_hashed_retrieval": q_rag_hashed_retrieval,
        "range_join_counts": q_range_join_counts,
        "rollup_read_equivalence": q_rollup_read_equivalence,
        "semi_join": q_semi_join,
        "sessionize": q_sessionize,
        "sim_ivfpq_topk": q_sim_ivfpq_topk,
        "skew_salted_agg": q_skew_salted_agg,
        "skew_salted_join": q_skew_salted_join,
        "streaming_agg": q_streaming_agg,
        "streaming_dedup": q_streaming_dedup,
        "streaming_index_dedup": q_streaming_index_dedup,
        "streaming_ingest": q_streaming_ingest,
        "streaming_sessionize": q_streaming_sessionize,
        "text_decontaminate": q_text_decontaminate,
        "text_repetition": q_text_repetition,
        "track_cube": q_track_cube,
        # -- last driver-green r13 --
        "active_users": q_active_users,
        "attribution_last_touch": q_attribution_last_touch,
        "bm25_retrieval": q_bm25_retrieval,
        "bpe_encode_ids": q_bpe_encode_ids,
        "cohort_retention": q_cohort_retention,
        "correlated_subquery": q_correlated_subquery,
        "csv_source_agg": q_csv_source_agg,
        "date_extract": q_date_extract,
        "db_clone": q_db_clone,
        "dedup_containment": q_dedup_containment,
        "dedup_fuzzy": q_dedup_fuzzy,
        "exists_subquery": q_exists_subquery,
        "fetch_binop": q_fetch_binop,
        "fetch_seasonal": q_fetch_seasonal,
        "funnel_counts": q_funnel,
        "funnel_windowed": q_funnel_windowed,
        "grouping_sets_mixed": q_grouping_sets_mixed,
        "histogram_rollup_merge": q_histogram_rollup_merge,
        "pack_nosplit": q_pack_nosplit,
        "pivot_event_matrix": q_pivot_event_matrix,
        "q10_returned_items": q10_returned_items,
        "q14_promo_ratio": q14_promo_ratio,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity": q17_small_quantity,
        "q19_disjunctive": q19_disjunctive,
        "q1_pricing_summary": q1_pricing_summary,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "q22_waiting_customers": q22_waiting_customers,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "q4_order_priority": q4_order_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q6_selective_scan": q6_selective_scan,
        "q7_nation_volume": q7_nation_volume,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "rollup_cascade": q_rollup_cascade,
        "sample_token_budget": q_sample_token_budget,
        "set_ops": q_set_ops,
        "shard_writer": q_shard_writer,
        "sim_hard_negatives": q_sim_hard_negatives,
        "sim_ivfpq_residual": q_sim_ivfpq_residual,
        "sim_ivfpq_search": q_sim_ivfpq_search,
        "streaming_join": q_streaming_join,
        "string_funcs": q_string_funcs,
        "text_bigram_lm": q_text_bigram_lm,
        "text_boilerplate": q_text_boilerplate,
        "text_chunk": q_text_chunk,
        "topk_per_group": q_topk_per_group,
        "window_daily_running": q_window_daily_running,
        "window_frames": q_window_frames,
        # -- last driver-green r14 --
        "asof_tolerance": q_asof_tolerance,
        "bloom_join_prune": q_bloom_join_prune,
        "bpe_decode_roundtrip": q_bpe_decode_roundtrip,
        "bpe_gpt2_pretok": q_bpe_gpt2_pretok,
        "cdc_merge_apply": q_cdc_merge_apply,
        "db_forget": q_db_forget,
        "dedup_keep_best": q_dedup_keep_best,
        "dedup_url_canonical": q_dedup_url_canonical,
        "drift_psi": q_drift_psi,
        "embedding_matryoshka": q_embedding_matryoshka,
        "embedding_pca": q_embedding_pca,
        "embedding_quantize": q_embedding_quantize,
        "fetch_agg_by": q_fetch_agg_by,
        "fetch_alerts": q_fetch_alerts,
        "fetch_anomaly": q_fetch_anomaly,
        "fetch_burn_rate": q_fetch_burn_rate,
        "fetch_count_values": q_fetch_count_values,
        "fetch_downsample": q_fetch_downsample,
        "fetch_last_write": q_fetch_last_write,
        "fetch_mad_anomaly": q_fetch_mad_anomaly,
        "fetch_outlier_fences": q_fetch_outlier_fences,
        "fetch_quantile_by": q_fetch_quantile_by,
        "fetch_remap": q_fetch_remap,
        "fetch_seasonal_anomaly": q_fetch_seasonal_anomaly,
        "fetch_share": q_fetch_share,
        "fetch_stddev_window": q_fetch_stddev_window,
        "fetch_topk_instant": q_fetch_topk_instant,
        "funnel_time": q_funnel_time,
        "json_source_agg": q_json_source_agg,
        "multimodal_gif_real": q_multimodal_gif_real,
        "ngram_heavy_hitters": q_ngram_heavy_hitters,
        "pack_ids": q_pack_ids,
        "path_transitions": q_path_transitions,
        "profile_correlations": q_profile_correlations,
        "q12_shipmode": q12_shipmode,
        "q20_potential_promotion": q20_potential_promotion,
        "rfm_segments": q_rfm_segments,
        "rollup_revenue": q_rollup_revenue,
        "sample_weighted": q_sample_weighted,
        "sim_ivfpq_refined": q_sim_ivfpq_refined,
        "sim_ivfpq_residual_det": q_sim_ivfpq_residual_det,
        "sim_knn_graph": q_sim_knn_graph,
        "streaming_alerts": q_streaming_alerts,
        "streaming_rejects": q_streaming_rejects,
        "text_char_entropy": q_text_char_entropy,
        "text_collocations": q_text_collocations,
        "text_decontaminate_spans": q_text_decontaminate_spans,
        "text_keywords": q_text_keywords,
        "track_rejects": q_track_rejects,
        "zorder_layout": q_zorder_layout,
        # -- never driver-gated (borns) --
        "dq_expectations": q_dq_expectations,
        "embedding_kmeans": q_embedding_kmeans,
        "fetch_backtest": q_fetch_backtest,
        "fetch_clamp": q_fetch_clamp,
        "fetch_rule_group_low": q_fetch_rule_group_low,
        "privacy_luhn": q_privacy_luhn,
        "semdedup": q_semdedup,
        "snapshot_diff": q_snapshot_diff,
        "sql_rule_group": q_sql_rule_group,
        "text_script_census": q_text_script_census,
        "url_psl_census": q_url_psl_census,
        "window_ranks": q_window_ranks,
    }




def oracle_sql() -> dict[str, str]:
    """DuckDB ANSI-SQL twin for every gated queries() entry (driver runs
    both sides at sf0.01 and compares rows/schema/value-hash). The corpus
    lives in kadiyadb_spark/oracles/ split per family; see
    kadiyadb_spark/oracles/__init__.py."""
    return all_oracles()
