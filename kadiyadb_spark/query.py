"""O2/O4/O6/O7 — Fetch: time-range scan + exact-depth wildcard match + dense
zero-fill.

Reference semantics (SURVEY §2):
- half-open range [from, to): database.go:176-199 (O4)
- exact-depth pattern match, "*" wildcard per level: index/node.go:126-198 (O6/O7)
- matched series yield a DENSE vector over the requested slots; never-written
  slots read as (0.0, 0.0): block/blockrw.go:109-117 (fine-print #3)
- to < from -> error; from == to -> empty result (fine-print #4)
- result ordering unspecified (fine-print #8)

Every reader of the Fetch family shares one definition of each read-side
decision: ``_slot_range`` is the range spec (validation, slot flooring,
epoch bounds, the empty flag and the pushed-down scan predicate as one SQL
expression); ``compile_pattern`` is the one pattern form; ``_pivot_pair``
is the two-pattern scan-and-align; ``_SlotRange.spine`` is the whole-range
slot spine and ``_densify`` the per-epoch zero-fill.

Spark shape: ONE predicate-pushed filter on the cube (epoch range, the
bucket image of that range, exact depth and dimension equality/IN reach
the parquet scan), then ONE aggregation keyed (epoch, series) that gathers
each series' in-range points into a map and densifies by fanning it out to
its epoch's slots MAP-SIDE with ``explode(sequence(...))`` — no bucket-axis
table, no broadcast, no join, memory bounded by slots-per-epoch regardless
of how wide the requested range is (a year at 1 s resolution fans out 3600
slots per epoch row, never 31M at once). Over a persisted store,
``Database.fetch`` clusters the scan on (epoch, f1..fd) before the segment
fold, so the fold and the densify aggregation share ONE Exchange
(tests/test_plans.py pins it).

Driver shape: a ``Database.fetch``/``fetch_multi`` whose kept segments are
local and small runs no Spark plan at all. ``kadiyadb_spark.arrow_read``
reads those files with pyarrow and executes the same range spec, pattern
predicates, exact fold and per-epoch densify on the driver, then returns a
local DataFrame whose collect runs no job (``Database._driver_segments``
names the conditions; tests/test_properties.py P30 pins the parity).
"""

from __future__ import annotations

import functools
import math
import operator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kadiyadb_spark import schema as S
from kadiyadb_spark.functions.num import centered_var4, scale4_expr

WILDCARD = "*"


class InvalidTimeRange(ValueError):
    """Reference ErrInvTime / ErrRange (database.go:156-158, 176-199)."""


class Re:
    """PromQL ``=~`` regex matcher for ONE pattern level:
    ``fetch(cube, a, b, [Re("cl.*|sign.*"), "*"])``. FULLY ANCHORED like
    PromQL (the engine wraps ``^(?:…)$``), so ``Re("click")`` matches
    exactly the string ``click`` — a plain value is always the safer form
    when no metacharacter is needed. The pattern must compile under
    Python ``re`` (fail-fast here); evaluation is Spark's JVM ``rlike``.
    Manifest-stats segment pruning and the driver-side fetch
    (``arrow_read``) act only on patterns inside a whitelist of
    constructs both dialects share (no escapes, no class intersection or
    nesting, no inline flags; database.py:_re_prune_safe), matched by
    ``database._jmatch``, a replay of the JVM's anchored matcher; any
    other pattern is read in full and filtered by Spark."""

    __slots__ = ("pattern",)

    def __init__(self, pattern: str):
        if not isinstance(pattern, str) or pattern == "":
            raise ValueError(f"illegal regex pattern: {pattern!r}")
        import re as _re
        import warnings as _warnings

        try:
            # fail-fast SYNTAX check only — evaluation is Java rlike, so
            # Python's future set-operation semantics for classes like
            # '[..&&..]' never apply here; suppress that FutureWarning
            # deliberately (segment pruning already refuses to act on any
            # '&&' class — database.py:_re_prune_safe), keeping pytest
            # warning-clean.
            with _warnings.catch_warnings():
                _warnings.filterwarnings(
                    "ignore", message="Possible set", category=FutureWarning
                )
                _re.compile(pattern)
        except _re.error as e:
            raise ValueError(f"bad regex pattern {pattern!r}: {e}") from e
        self.pattern = pattern

    def __repr__(self) -> str:  # error messages / plan debugging
        return f"Re({self.pattern!r})"

    def __eq__(self, other) -> bool:
        return isinstance(other, Re) and other.pattern == self.pattern

    def __hash__(self) -> int:
        return hash(("Re", self.pattern))


def compile_pattern(pattern: list):
    """Validate a query pattern and return (depth, [(col, value), ...]) of
    predicates ("*" levels contribute none). A level is an exact string, a
    ``"*"`` wildcard, a LIST/SET of strings — the PromQL value-set
    matcher (``{event=~"click|view"}``) compiled to one IN predicate, still
    a single pushed-down scan — or a ``Re`` regex matcher (PromQL ``=~``
    with true metacharacters; a Catalyst RLIKE filter: cheap map-side, but
    unlike exact/IN it cannot reach parquet PushedFilters — prefer value
    sets when the value list is enumerable). Multi-value levels normalize
    to a sorted tuple (order-independent, deterministic). "" is illegal in
    queries (index/node.go:138-147), inside sets too; so is "*" inside a
    set (a set containing the wildcard IS the wildcard — say so)."""
    if not pattern:
        raise ValueError("empty query pattern")
    preds = []
    for i, v in enumerate(pattern, start=1):
        if isinstance(v, (list, tuple, set, frozenset)):
            # validate BEFORE sorting: a mixed-type set would die inside
            # sorted() with a bare TypeError instead of this ValueError
            for x in v:
                if not isinstance(x, str) or x == "":
                    raise ValueError(f"illegal query field value at level {i}: {x!r}")
                if x == WILDCARD:
                    raise ValueError(
                        f"'*' inside a value set at level {i}: use the plain "
                        "wildcard for that level instead"
                    )
            vals = sorted(set(v))
            if not vals:
                raise ValueError(f"empty value set at level {i}")
            preds.append((S.field_col(i), vals[0] if len(vals) == 1 else tuple(vals)))
            continue
        if isinstance(v, Re):
            preds.append((S.field_col(i), v))
            continue
        if not isinstance(v, str) or v == "":
            # dimensions are string columns; a non-string scalar (e.g. an
            # int user id) previously slipped through here and died later
            # as an opaque TypeError in the manifest-pruning layer (review
            # finding) — enforce the same contract the set branch does
            raise ValueError(f"illegal query field value at level {i}: {v!r}")
        if v != WILDCARD:
            preds.append((S.field_col(i), v))
    return len(pattern), preds


def match_expr(col: str, val) -> "F.Column":
    """The Catalyst predicate of one compiled pattern entry: equality for a
    scalar, IN for a value-set tuple (both reach PushedFilters), anchored
    RLIKE for a ``Re`` matcher (map-side filter only)."""
    if isinstance(val, Re):
        return F.col(col).rlike(f"^(?:{val.pattern})$")
    if isinstance(val, tuple):
        return F.col(col).isin(*val)
    return F.col(col) == F.lit(val)


def _match_cond(depth: "int | None", preds: list) -> "F.Column":
    """O6/O7 as one predicate over a compiled pattern: exact depth +
    equality/IN/RLIKE on non-* levels. ``depth=None`` leaves the depth
    term out (the two-pattern pivot states the shared depth once in its
    scan); a pattern with no exact level then matches every row."""
    conds = [match_expr(col, val) for col, val in preds]
    if depth is not None:
        conds.insert(0, F.col(S.DEPTH) == F.lit(depth))
    return functools.reduce(operator.and_, conds) if conds else F.lit(True)


class _SlotRange(NamedTuple):
    """The one range spec of every Fetch-family reader, built once per call
    by ``_slot_range``: [from_b, to_b) are the slot-floored ends, and
    ``duration`` (the cube's epoch length) is None when the caller does not
    know it. Integer-only expressions are SQL text, not Column calls: one
    parsed expression costs one JVM round trip where the Column form costs
    one per call."""

    from_b: int
    to_b: int
    resolution: int
    duration: "int | None"

    @property
    def empty(self) -> bool:
        """from == to after flooring: an empty result, not an error."""
        return self.from_b == self.to_b

    @property
    def epochs(self) -> range:
        """Start of every epoch holding a slot of [from_b, to_b) — the
        manifest-level prune set; ``epochs.start``/``epochs.stop`` bound
        the buckets of those whole epochs. Needs ``duration``."""
        d = self.duration
        first = self.from_b - self.from_b % d
        if self.empty:
            return range(first, first, d)
        last = self.to_b - self.resolution
        return range(first, last - last % d + d, d)

    def scan_sql(self, whole_epochs: bool = False) -> str:
        """The pushed-down scan predicate: epoch bounds plus bucket range.
        Catalyst cannot derive epoch bounds from the bucket range through
        the floor arithmetic, so they are stated explicitly and an
        epoch-partitioned cube prunes partitions. The upper bound (an epoch
        starts at or before its last in-range slot) holds for ANY duration;
        a known ``duration`` adds the exact lower bound. ``whole_epochs``
        widens the bucket range to the touched epochs' full span — it drops
        no row of those epochs, which densify's per-epoch membership
        needs."""
        lo, hi = self.from_b, self.to_b
        if whole_epochs:
            lo, hi = self.epochs.start, self.epochs.stop
        sql = (
            f"{S.EPOCH} <= {self.to_b - self.resolution} "
            f"AND {S.BUCKET} >= {lo} AND {S.BUCKET} < {hi}"
        )
        if self.duration is not None:
            sql = f"{S.EPOCH} >= {self.epochs.start} AND {sql}"
        return sql

    def epoch_slots_sql(self) -> str:
        """Slot starts of the row's epoch clipped to [from_b, to_b), as an
        array expression over the epoch column (needs ``duration``).
        sequence() is inclusive of its stop, so the last slot is the
        exclusive clip minus one resolution. Evaluated per (epoch, series)
        row at explode time — the densify axis is never materialized as a
        table, so its memory cost is O(slots-per-epoch) however wide the
        requested range is."""
        return (
            f"sequence(greatest({S.EPOCH}, {self.from_b}), "
            f"least({S.EPOCH} + {self.duration}, {self.to_b}) - {self.resolution}, "
            f"{self.resolution})"
        )

    def spine(self, spark: SparkSession, labels: "list[str]" = ()) -> DataFrame:
        """Every slot start of [from_b, to_b) as ``bucket`` — once per
        label, carried as ``query``, when ``labels`` are given. A Range
        node generates the slots lazily, so the plan holds no literal array
        however wide the range, and an empty range yields no rows."""
        slots = spark.range(self.from_b, self.to_b, self.resolution)
        if not labels:
            return slots.selectExpr(f"id AS {S.BUCKET}")
        return slots.select(
            F.explode(F.array(*[F.lit(n) for n in labels])).alias("query"),
            F.col("id").alias(S.BUCKET),
        )


def _slot_range(
    from_ts: int, to_ts: int, resolution: int, duration: "int | None" = None
) -> _SlotRange:
    """Validate [from_ts, to_ts) and floor both ends to the slot grid. The
    reference FLOORS both ends (database.go:176-199, split at :267-277 —
    pos1 = floor((to-ets)/res)) and scans slots [pos0, pos1), so a `to`
    inside a slot EXCLUDES that partial slot: fetch(0, 90) at res=60
    returns only slot 0, and fetch(90, 90) is empty."""
    if from_ts < 0 or to_ts < from_ts:
        raise InvalidTimeRange(
            f"invalid range [{from_ts}, {to_ts}): need 0 <= from <= to"
        )
    return _SlotRange(
        from_ts - from_ts % resolution, to_ts - to_ts % resolution, resolution, duration
    )


def _densify(df: DataFrame, keys: list, rng: _SlotRange, zeros: dict) -> DataFrame:
    """Per-epoch dense zero-fill in ONE aggregation: each ``keys`` group
    (which includes the epoch) gathers its in-range points into a map
    bucket -> struct(value columns), then fans out to its epoch's clipped
    slot sequence map-side; a gap slot reads each value column as its
    ``zeros`` literal. Series membership is per-EPOCH, not per-slot: a
    group present in a touched epoch yields a dense (possibly all-zero)
    vector for that epoch and nothing for epochs where it never appeared
    (database.go:204-251, database_test.go:203-281) — rows OUTSIDE the
    bucket range still vote for membership (the CASE leaves them out of
    the map but not out of the group). Per-group state is bounded by
    slots-per-epoch, never by range width or series count. The map build
    assumes one row per (keys, bucket); duplicate bucket keys would
    error."""
    vals = ", ".join(zeros)
    return (
        df.groupBy(*keys)
        .agg(
            # collect_list drops the CASE's nulls; all-out-of-range groups
            # yield an empty map (all-zero dense vector)
            F.expr(
                f"map_from_entries(collect_list(CASE WHEN {S.BUCKET} >= {rng.from_b} "
                f"AND {S.BUCKET} < {rng.to_b} THEN struct({S.BUCKET}, struct({vals})) "
                "END)) AS _pts"
            )
        )
        .selectExpr(*keys, f"explode({rng.epoch_slots_sql()}) AS {S.BUCKET}", "_pts")
        .selectExpr(
            *keys,
            S.BUCKET,
            # try_element_at is NULL on gap slots
            *[
                f"coalesce(try_element_at(_pts, {S.BUCKET}).{c}, {z}) AS {c}"
                for c, z in zeros.items()
            ],
        )
    )


def fetch(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    resolution: int = 60_000_000_000,
    duration: int = 3_600_000_000_000,
    densify: bool = True,
) -> DataFrame:
    """Fetch matching series over [from_ts, to_ts).

    Returns columns (epoch, f1..fD, bucket, total, cnt) — one row per matched
    series per slot, zero-filled when ``densify`` (the reference always
    densifies; sparse mode is for when the caller aggregates anyway).
    Row order is unspecified (fine-print #8).
    """
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    depth, preds = compile_pattern(pattern)
    fcols = S.field_cols(depth)
    if rng.empty:
        # from == to -> empty result, not an error (fine-print #4)
        return cube.sparkSession.createDataFrame(
            [],
            schema="epoch long, "
            + ", ".join(f"{c} string" for c in fcols)
            + ", bucket long, total double, cnt double",
        )

    # Every DataFrame call is a driver-side analysis pass and every Column
    # call a JVM round trip, so all predicates go into ONE filter and the
    # range predicate is SQL text (one round trip).
    matched = _match_cond(depth, preds)
    if not densify:
        return cube.filter(matched & F.expr(rng.scan_sql())).select(
            S.EPOCH, *fcols, S.BUCKET, S.TOTAL, S.CNT
        )
    # Densify scans whole epochs (membership is per epoch, see _densify);
    # the bucket bounds restate the epoch range on the bucket axis, so they
    # drop no member row and give the parquet reader a bucket predicate
    # for row-group skipping. The map build assumes the cube is FOLDED —
    # both track_batch and Database.cube guarantee it.
    return _densify(
        cube.filter(matched & F.expr(rng.scan_sql(whole_epochs=True))),
        [S.EPOCH, *fcols],
        rng,
        {S.TOTAL: "0.0D", S.CNT: "0.0D"},
    )


def rollup_at_read(cube: DataFrame, to_depth: int, max_depth: int) -> DataFrame:
    """Reconstruct a prefix series at read time from full-depth series —
    property-test twin of write-time rollup (SURVEY fine-print #7): fetching
    prefix ["a","b"] from a rollup=True cube must equal aggregating all
    depth-N children of ["a","b"] from a rollup=False cube. The read-time
    fold sums the same exact scaled longs the write-time rollup summed
    (``fold_aggs``), so the equality is bit-exact at any parallelism."""
    from kadiyadb_spark.ingest import _prefix_fanout, fold_aggs

    fcols = S.field_cols(max_depth)
    return (
        _prefix_fanout(
            cube.filter(F.col(S.DEPTH) == F.lit(max_depth)),
            {c: F.col(c) for c in (S.EPOCH, S.BUCKET, S.TOTAL, S.CNT)},
            [F.col(c) for c in fcols],
            [to_depth],
        )
        .groupBy(S.EPOCH, S.BUCKET, *fcols, S.DEPTH)
        .agg(*fold_aggs())
    )


def series_delta(
    df: DataFrame,
    series_cols: list[str],
    bucket_col: str = "bucket",
    total_col: str = "total",
    resolution: int = 60_000_000_000,
) -> DataFrame:
    """Per-series difference and rate over consecutive slots — the
    delta()/rate() every metrics engine offers over what the reference
    stores (pre-aggregated per-slot totals). delta = total - lag(total)
    ordered by bucket within each series path (null on each series' first
    slot, where no predecessor exists); rate = delta per second
    (resolution is ns). ONE shuffle: the window partitions by the series
    path — at 100 TB this is the same key the cube is already clustered
    by, and slots-per-series is bounded by the fetch range, so no
    partition skew."""
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    delta = F.col(total_col) - F.lag(total_col).over(w)
    return df.select(
        *series_cols,
        bucket_col,
        total_col,
        round4_expr(delta).alias("delta"),
        round4_expr(delta / F.lit(resolution / 1e9)).alias("rate_per_sec"),
    )


def interpolate_series(
    df: DataFrame,
    series_cols: list[str],
    bucket_col: str = "bucket",
    total_col: str = "total",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Linear interpolation of INTERIOR gaps in a dense zero-filled fetch
    frame: slots with cnt = 0 lying between two observed slots of the same
    series get the linearly interpolated total; leading/trailing gaps keep
    the zero-fill (no observation to anchor the line — the reference's
    zero-fill is the honest value there). Observed slots pass through
    unchanged.

    Shape: two window passes over the SAME (series, bucket) ordering —
    last-observed-before (ignoreNulls last) and first-observed-after
    (ignoreNulls first) — so Spark plans ONE sort+shuffle and both frames
    ride it. No joins, no self-merge."""
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    obs = F.when(F.col(cnt_col) > 0, F.struct(F.col(bucket_col).alias("b"), F.col(total_col).alias("v")))
    w_prev = (
        Window.partitionBy(*series_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy(*series_cols)
        .orderBy(bucket_col)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    prev = F.last(obs, ignorenulls=True).over(w_prev)
    nxt = F.first(obs, ignorenulls=True).over(w_next)
    frac = (F.col(bucket_col) - prev["b"]).cast("double") / (nxt["b"] - prev["b"]).cast("double")
    interp = prev["v"] + (nxt["v"] - prev["v"]) * frac
    filled = F.when(F.col(cnt_col) > 0, F.col(total_col)).otherwise(
        F.when(prev.isNotNull() & nxt.isNotNull(), interp).otherwise(F.col(total_col))
    )
    return df.select(
        *series_cols,
        bucket_col,
        F.col(cnt_col),
        round4_expr(F.col(total_col)).alias(total_col),
        round4_expr(filled).alias("interpolated"),
        (F.col(cnt_col) == 0).cast("boolean").alias("was_gap"),
    )


def series_smooth(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int = 5,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """Trailing moving average over the last ``window_slots`` slots per
    series (avg_over_time): the smoothing pass dashboards apply to noisy
    per-slot totals. Windows shorter than ``window_slots`` at a series'
    start average what exists (standard trailing-window semantics). Same
    single series-keyed sort/shuffle as series_delta — compose them and
    Spark rides one Exchange. The mean is integer-scaled exact (sum of
    round(v*1e4) longs over the frame, ONE division): window avg(double)
    accumulates in the engine's own order/algorithm, the cross-engine
    4dp-boundary flake class of the r07 gate."""
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = (
        Window.partitionBy(*series_cols)
        .orderBy(bucket_col)
        .rowsBetween(-(window_slots - 1), 0)
    )
    scaled = scale4_expr(F.col(total_col))
    mean = F.sum(scaled).over(w) / (F.lit(10000.0) * F.count(total_col).over(w))
    return df.select(
        *series_cols,
        bucket_col,
        round4_expr(F.col(total_col)).alias(total_col),
        round4_expr(mean).alias("smoothed"),
    )


def _require_exact_pair(a: list[str], b: list[str], op: str) -> tuple:
    """Shared validation of the two-pattern operators (ratio, binop,
    burn_rate): both patterns exact scalars of one shared depth. Returns
    (depth, a_preds, b_preds) — the compiled predicates ``_pivot_pair``
    takes."""
    compiled = []
    for p in (a, b):
        d, preds = compile_pattern(p)
        if any(isinstance(v, tuple) for _, v in preds):
            raise ValueError(f"{op} needs scalar exact patterns (no value sets)")
        if any(not isinstance(v, str) for _, v in preds):
            # Re matchers compile to one pred per level, so the len check
            # below passes them — without this they die much later in
            # F.lit(Re(...)) with an opaque literal error
            raise ValueError(f"{op} needs scalar exact patterns (no regex matchers)")
        if len(preds) != d:
            raise ValueError(f"{op} needs exact patterns, got {p!r}")
        compiled.append(preds)
    if len(a) == 0 or len(a) != len(b):
        raise ValueError(f"{op}: both patterns must share a depth >= 1")
    return (len(a), *compiled)


def _pivot_pair(
    cube: DataFrame,
    rng: _SlotRange,
    depth: int,
    a_preds: list,
    b_preds: list,
    keys: "list[str]" = (),
) -> DataFrame:
    """The two-pattern operators' shared scan and alignment: ONE pushed-down
    scan of the depth-``depth`` rows matching either compiled pattern in
    the range, and ONE (keys, bucket) aggregation pivoting each role's
    integer-scaled exact sum into ``_a4`` / ``_b4`` (null where that role
    never fired). No self-join, no second scan: the naive two-fetch
    formulation scans the cube twice and shuffles both sides into an
    equi-join. Long sums are associative, so each operator's output is one
    deterministic expression over exact inputs — never a quotient of
    partition-order double sums (functions/num.py:exact_sum4_expr)."""
    is_a, is_b = _match_cond(None, a_preds), _match_cond(None, b_preds)
    x4 = scale4_expr(F.col(S.TOTAL))
    return (
        cube.filter(F.expr(f"{S.DEPTH} = {depth} AND {rng.scan_sql()}") & (is_a | is_b))
        .groupBy(*keys, S.BUCKET)
        .agg(
            F.sum(F.when(is_a, x4)).alias("_a4"),
            F.sum(F.when(is_b, x4)).alias("_b4"),
        )
    )


def _ratio_select(g: DataFrame, *keys: str) -> DataFrame:
    """series_ratio's output over a pivot: the ratio divides the two LONG
    sums directly — one long/long division, identical IEEE in any
    engine."""
    from kadiyadb_spark.functions.num import round4_expr

    ratio = F.when(F.col("_b4") != 0, F.col("_a4") / F.col("_b4"))
    return g.select(
        *keys,
        S.BUCKET,
        (F.col("_a4") / F.lit(10000.0)).alias("num_total"),
        (F.col("_b4") / F.lit(10000.0)).alias("den_total"),
        round4_expr(ratio).alias("ratio"),
    )


def series_ratio(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    num_pattern: list[str],
    den_pattern: list[str],
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """Aligned binary operation over two exact series (the PromQL
    ``a / b`` — error rate = errors/clicks per slot): ONE cube scan
    filters both exact paths, a conditional-sum pivot aligns them per
    bucket (``_pivot_pair``), and the ratio is null where the denominator
    is absent or zero.

    Patterns must be exact (no wildcards) and the same depth — aligned
    division across wildcard fan-outs is ``series_ratio_wildcard``."""
    depth, pn, pd = _require_exact_pair(num_pattern, den_pattern, "series_ratio")
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    return _ratio_select(_pivot_pair(cube, rng, depth, pn, pd))


def series_ratio_wildcard(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    num_pattern: list[str],
    den_pattern: list[str],
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """Aligned binary operation across WILDCARD fan-outs — the PromQL
    ``errors{*} / requests{*}`` a monitoring user writes on day one: both
    patterns share their wildcard POSITIONS, every wildcard level is a
    join dimension (a numerator series divides the denominator series
    holding the SAME values at all wildcard levels), and the exact levels
    select the two roles (e.g. f1 'error' vs 'click', per-f2-user ratio).

    Still ONE pushed-down cube scan and ONE aggregation: the alignment is
    the same conditional-sum pivot as ``series_ratio``, keyed by
    (wildcard levels, bucket) instead of bucket alone — no self-join, no
    second scan, and the shuffle carries at most fan-out x slots rows.
    Groups where one role never fired keep a null on that side (and a
    null ratio) so missing counterparts stay visible instead of silently
    dropping (PromQL drops them; filter ``ratio IS NOT NULL`` for that);
    ratio is null where the denominator is absent or zero."""
    if len(num_pattern) == 0 or len(num_pattern) != len(den_pattern):
        raise ValueError("numerator and denominator patterns must share a depth >= 1")
    wild = [i for i, v in enumerate(num_pattern, start=1) if v == "*"]
    if wild != [i for i, v in enumerate(den_pattern, start=1) if v == "*"]:
        raise ValueError(
            "wildcard positions must match between patterns: the '*' levels "
            f"are the join key, got {num_pattern!r} vs {den_pattern!r}"
        )
    if not wild:
        raise ValueError("no wildcard level; use series_ratio for exact patterns")
    compiled = []
    for p in (num_pattern, den_pattern):
        _, preds = compile_pattern(p)  # validates '' / illegal values
        if any(not isinstance(v, str) for _, v in preds):
            raise ValueError(
                "series_ratio_wildcard needs scalar exact levels "
                "(no value sets or regex matchers)"
            )
        compiled.append(preds)
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    wild_cols = [S.field_col(i) for i in wild]
    return _ratio_select(
        _pivot_pair(cube, rng, len(num_pattern), *compiled, keys=wild_cols), *wild_cols
    )


def _series_scan_cond(
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    resolution: int,
    duration: "int | None" = None,
) -> tuple["F.Column", int]:
    """Shared scan filter of the series_* operator family: the compiled
    pattern's (depth, level predicates) and the range spec's pushed-down
    epoch bounds and bucket range (``_SlotRange.scan_sql``).
    ``duration``: the cube's epoch length — pass it to partition-prune the
    epoch lower bound too. Returns (condition, depth)."""
    depth, preds = compile_pattern(pattern)
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    return _match_cond(depth, preds) & F.expr(rng.scan_sql()), depth


def series_sum_by(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    keep_levels: list[int],
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """PromQL ``sum by (labels)`` over the cube: per-slot totals summed
    across every level NOT in ``keep_levels`` (1-based). One pushed-down
    scan at the pattern's depth + one aggregation keyed by (kept levels,
    bucket) — no join, no second scan.

    When the kept levels are a PREFIX [1..k] and the deeper levels are all
    ``*``, prefer ``fetch(pattern[:k])``: the write-time rollup already
    materialized that sum and the scan reads depth-k rows directly
    (epoch/epoch.go:66-80's rollup exists exactly for that case). This
    operator exists for the aggregations the prefix rollup CANNOT serve —
    keeping a non-prefix subset (``sum by (user)`` over (event_type, user)
    fans event types IN per user, which no rollup row holds)."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    if not keep_levels:
        raise ValueError("keep_levels must name at least one level")
    if sorted(set(keep_levels)) != sorted(keep_levels) or any(
        i < 1 or i > depth for i in keep_levels
    ):
        raise ValueError(
            f"keep_levels must be distinct levels in 1..{depth}, got {keep_levels}"
        )
    from kadiyadb_spark.functions.num import exact_sum4_expr

    keep_cols = [S.field_col(i) for i in sorted(keep_levels)]
    return (
        cube.filter(cond)
        .groupBy(*keep_cols, S.BUCKET)
        .agg(
            # integer-scaled exact sum: associative (any parallelism, any
            # engine) — plain round4(sum(double)) redlined this class at
            # the r07 driver gate (functions/num.py:exact_sum4_expr)
            exact_sum4_expr(F.col(S.TOTAL)).alias("total"),
            F.sum(S.CNT).alias("cnt"),
        )
    )


def series_offset(
    df: DataFrame,
    series_cols: list[str],
    offset_slots: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """PromQL ``offset`` comparison over a DENSE fetch frame: each slot's
    total against the same series ``offset_slots`` earlier (day-over-day:
    offset_slots = day_ns / resolution), as delta and ratio. Because fetch
    zero-fills, row distance IS slot distance, so a window ``lag`` is exact
    — no self-join, no second scan, and the window rides the SAME
    (series, bucket) Exchange as delta/smooth/anomaly (composing transforms
    stays one shuffle, plan-asserted for the family). Slots with no
    baseline (the first ``offset_slots`` of the range) keep null delta and
    ratio; ratio is also null on a zero baseline."""
    if offset_slots < 1:
        raise ValueError(f"need offset_slots >= 1, got {offset_slots}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    prev = F.lag(F.col(total_col), offset_slots).over(w)
    return df.select(
        *series_cols,
        bucket_col,
        round4_expr(F.col(total_col)).alias(total_col),
        round4_expr(prev).alias("baseline"),
        round4_expr(F.col(total_col) - prev).alias("offset_delta"),
        round4_expr(
            F.when(prev != 0, F.col(total_col) / prev)
        ).alias("offset_ratio"),
    )


def series_topk(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    k: int = 10,
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
    largest: bool = True,
) -> DataFrame:
    """Top-K series by total over a range (the PromQL ``topk`` over what
    the reference stores; ``largest=False`` is ``bottomk`` — the
    quietest series, the capacity-reclaim view): one pushed-down cube
    scan over the pattern's exact depth, one series-keyed aggregation,
    then a global top-K — Spark's TakeOrderedAndProject keeps only K
    rows per partition and K at the driver, so the ranking never
    materializes the full series list. Ties break on the series path
    (deterministic cross-engine on 4dp-rounded totals)."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    from kadiyadb_spark.functions.num import exact_sum4_expr

    fcols = S.field_cols(depth)
    g = (
        cube.filter(cond)
        .groupBy(*fcols)
        .agg(
            # order-immune ranking values (functions/num.py:exact_sum4_expr)
            exact_sum4_expr(F.col(S.TOTAL)).alias("range_total"),
            F.sum(S.CNT).alias("range_cnt"),
        )
    )
    rank = F.col("range_total").desc() if largest else F.col("range_total").asc()
    return g.orderBy(rank, *[F.col(c).asc() for c in fcols]).limit(k)


def series_increase(
    df: DataFrame,
    series_cols: list[str],
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """PromQL ``increase()`` with COUNTER-RESET handling over a dense fetch
    frame: per slot, the adjusted delta is ``total - lag(total)`` unless
    the counter went backwards (a restart zeroed it), in which case the
    whole new value counts as increase — exactly Prometheus's
    extrapolation-free reset rule. ``cum_increase`` accumulates the
    adjusted deltas per series (the monotonic view dashboards plot of a
    resetting counter). First slot of each series has no baseline: null
    adjusted delta, cum 0.

    All arithmetic folds integer-scaled longs (round(v*1e4)) and divides
    once per output — associative, engine-default-free (SURVEY §15.1).
    Same ONE series-keyed window Exchange as the rest of the fetch
    transform family — composing them keeps a single shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    t4 = scale4_expr(F.col(total_col))
    prev4 = F.lag(t4).over(w)
    d4 = t4 - prev4
    adj4 = F.when(prev4.isNull(), F.lit(None).cast("long")).when(d4 < 0, t4).otherwise(d4)
    cum4 = F.sum(F.coalesce(adj4, F.lit(0))).over(
        Window.partitionBy(*series_cols).orderBy(bucket_col)
    )
    return df.select(
        *series_cols,
        bucket_col,
        (t4 / F.lit(10000.0)).alias(total_col),
        (adj4 / F.lit(10000.0)).alias("increase"),
        (cum4 / F.lit(10000.0)).alias("cum_increase"),
        (prev4.isNotNull() & (d4 < 0)).alias("reset"),
    )


def series_predict_linear(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int,
    horizon_slots: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
    resolution: int = 60_000_000_000,
) -> DataFrame:
    """PromQL ``deriv()`` + ``predict_linear()`` over a dense fetch frame:
    per slot, the least-squares line through the trailing ``window_slots``
    totals, reported as slope per second and the extrapolated value
    ``horizon_slots`` ahead (capacity-planning's "when does the disk
    fill"). Slots without a full baseline window yield nulls (a 2-point
    line through noise is not a trend).

    Engine-default-free by construction (SURVEY §15.1): totals scale to
    exact longs, x is the in-frame slot index via the shift identity
    ``sum((rn - rn_start) * y) = sum(rn*y) - rn_start * sum(y)`` so every
    regression sum is an ASSOCIATIVE integer window fold, and the slope /
    prediction are single double expressions over exact operands —
    identical IEEE in any engine. The rn*y fold and the rn_start*sum(y)
    cross term carry the GLOBAL per-series row number, which grows with
    series length, not the window — a multi-year dense series wraps a
    plain long fold (review finding) — so both run in decimal(38,0)
    (10^38 headroom; identical values, one cast at the double boundary).
    Same ONE series-keyed window Exchange as the transform family."""
    if window_slots < 2:
        raise ValueError(f"need window_slots >= 2, got {window_slots}")
    if horizon_slots < 0:
        raise ValueError(f"need horizon_slots >= 0, got {horizon_slots}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    wf = w.rowsBetween(-(window_slots - 1), 0)
    # rn and the rn*y product materialize BEFORE the frame sums (window
    # expressions cannot nest inside another window's argument)
    base = df.select(
        *series_cols,
        bucket_col,
        F.col(total_col),
        scale4_expr(F.col(total_col)).alias("_y4"),
        F.row_number().over(w).cast("long").alias("_rn"),
    )
    n = F.count("_y4").over(wf)
    sy = F.sum(F.col("_y4").cast("decimal(38,0)")).over(wf)
    srny = F.sum(F.col("_rn").cast("decimal(38,0)") * F.col("_y4")).over(wf)
    # in-frame x: x_rel = rn - rn_start, rn_start = rn - (n - 1)
    rn_start = (F.col("_rn") - (n - F.lit(1))).cast("decimal(38,0)")
    sxy = srny - rn_start * sy  # = sum(x_rel * y4), exact integer fold
    # closed forms over x_rel = 0..n-1: sum x = n(n-1)/2, sum x^2 = n(n-1)(2n-1)/6
    sx = n * (n - F.lit(1)) / F.lit(2)
    sxx = n * (n - F.lit(1)) * (2 * n - F.lit(1)) / F.lit(6)
    denom = n * sxx - sx * sx
    slope4 = F.when(
        (n == window_slots) & (denom != 0),
        (n.cast("double") * sxy.cast("double") - sx * sy.cast("double")) / denom,
    )  # scaled-by-1e4 units per slot
    x_pred = (n - F.lit(1)).cast("double") + F.lit(float(horizon_slots))
    mean_y4 = sy.cast("double") / n.cast("double")
    mean_x = sx / n.cast("double")
    pred4 = mean_y4 + slope4 * (x_pred - mean_x)
    res_sec = resolution / 1e9
    return base.select(
        *series_cols,
        bucket_col,
        round4_expr(F.col(total_col)).alias(total_col),
        round4_expr(slope4 / F.lit(10000.0 * res_sec)).alias("deriv_per_sec"),
        round4_expr(pred4 / F.lit(10000.0)).alias("predicted"),
    )


def histogram_quantile(
    df: DataFrame,
    phi: float,
    group_cols: list[str],
    le_col: str = "le",
    cnt_col: str = "cnt",
) -> DataFrame:
    """PromQL ``histogram_quantile(phi, ...)`` over per-group cumulative-
    style buckets given as PER-BUCKET counts: rows (group..., le, cnt)
    where ``le`` is the bucket's inclusive upper bound (+Inf allowed) and
    ``cnt`` its occupancy. Returns one row per group with the
    linearly-interpolated quantile, Prometheus semantics exactly:

    - target rank = phi * total; the selected bucket is the first whose
      cumulative count reaches it;
    - interpolate linearly inside the selected bucket from its lower
      bound (the previous le, 0 for the first bucket);
    - if the target lands in the +Inf bucket, return the highest FINITE
      bound (no interpolation against infinity) — and NaN when no finite
      bucket exists at all (Prometheus's answer, not a fabricated 0.0);
    - a FIRST bucket with a non-positive upper bound returns that bound
      directly (Prometheus: observations may be negative; interpolating
      from a hardcoded 0 lower bound would exceed the bucket).

    One window Exchange keyed by the group (cumulative count is
    ``cum - cnt``-based, so no second pass); counts are integers, so
    cross-engine the only FP ops are the single phi multiply and one
    interpolation expression — identical IEEE both sides, which is what
    lets the driver hash-gate it. Groups with zero total yield null."""
    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = Window.partitionBy(*group_cols).orderBy(le_col)
    wall = Window.partitionBy(*group_cols)
    cum = F.sum(cnt_col).over(w)
    tot = F.sum(cnt_col).over(wall)
    prev_cum = cum - F.col(cnt_col)
    # RAW lag (null on the group's first bucket): the interpolation case
    # coalesces it to the 0 lower bound, but the +Inf and negative-bound
    # edges must SEE the null to answer like Prometheus
    prev_le = F.lag(le_col).over(w)
    sel = (
        df.withColumn("_cum", cum)
        .withColumn("_tot", tot)
        .withColumn("_prev_cum", prev_cum)
        .withColumn("_prev_le", prev_le)
        # window expressions must be materialized before the filter (Spark
        # rejects window functions inside WHERE)
        .filter(
            (F.col("_tot") > 0)
            & (
                F.col("_cum").cast("double")
                >= F.lit(float(phi)) * F.col("_tot").cast("double")
            )
            & (F.col(cnt_col) > 0)
        )
    )
    # first qualifying bucket per group: the one with the smallest le
    pick = Window.partitionBy(*group_cols).orderBy(F.col(le_col).asc())
    lo = F.coalesce(F.col("_prev_le"), F.lit(0.0))
    q = (
        F.when(
            F.col(le_col) == float("inf"),
            # highest finite bound; NaN when the +Inf bucket is the ONLY
            # occupied ladder (Prometheus), never a fabricated 0.0
            F.coalesce(F.col("_prev_le"), F.lit(float("nan"))),
        )
        .when(
            F.col("_prev_le").isNull() & (F.col(le_col) <= 0),
            # first bucket with a non-positive bound: return the bound
            # (interpolating from 0 would exceed it)
            F.col(le_col).cast("double"),
        )
        .otherwise(
            lo
            + (F.col(le_col) - lo)
            * (F.lit(float(phi)) * F.col("_tot").cast("double") - F.col("_prev_cum").cast("double"))
            / F.col(cnt_col).cast("double")
        )
    )
    return (
        sel.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            *group_cols,
            F.col("_tot").cast("long").alias("n_obs"),
            # NaN must bypass round4 (floor() yields a LONG, collapsing
            # NaN to 0 — the exact fabricated answer the NaN exists to
            # prevent)
            F.when(F.isnan(q), q).otherwise(round4_expr(q)).alias("quantile"),
        )
    )


def histogram_fraction(
    df: DataFrame,
    lo: float,
    hi: float,
    group_cols: list[str],
    le_col: str = "le",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Estimated fraction of observations in ``[lo, hi]`` per group from
    le-bucketed counts — the CDF-side inverse of ``histogram_quantile``
    (PromQL ships histogram_fraction() for native histograms; this is the
    classic-bucket analog, interpolating uniformly inside each bucket
    exactly as histogram_quantile interpolates the quantile).

    Per finite bucket (lower bound = previous le, 0 for the first — the
    same convention as histogram_quantile): its contribution is
    ``cnt * overlap([lo,hi], (lower,le]) / width``; the +Inf bucket counts
    toward the total but contributes no in-range mass (its observations
    have no locatable position; ``hi`` must be finite). A FIRST bucket
    with a non-positive bound is a point mass AT its bound — the exact
    fraction twin of histogram_quantile's "return the bound" rule (the
    0-lower convention would make its width negative and silently drop
    all its mass — review finding). Per-bucket contributions quantize at
    4dp (floor(x*1e4+0.5) of ONE double expression over exact counts and
    shared literals) and fold as scaled longs — the engine-exact device —
    then ONE division by the total.

    One group-keyed window Exchange (the lag for lower bounds); the group
    fold reuses the same distribution. Zero-total groups yield no row.

    Output: (group_cols..., n_obs, fraction).
    """
    if not (lo < hi):
        raise ValueError(f"need lo < hi, got [{lo}, {hi}]")
    if math.isinf(lo) or math.isinf(hi):
        raise ValueError("lo/hi must be finite (the +Inf bucket has no positions)")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = Window.partitionBy(*group_cols).orderBy(le_col)
    prev_le = F.lag(le_col).over(w)
    lower = F.coalesce(prev_le, F.lit(0.0))
    width = F.col(le_col) - lower
    ov = F.greatest(
        F.lit(0.0),
        F.least(F.lit(float(hi)), F.col(le_col)) - F.greatest(F.lit(float(lo)), lower),
    )
    first_nonpos = prev_le.isNull() & (F.col(le_col) <= 0)
    c4 = (
        F.when(
            first_nonpos,
            # point mass at le (histogram_quantile's non-positive-first rule)
            F.when(
                (F.col(le_col) >= F.lit(float(lo))) & (F.col(le_col) <= F.lit(float(hi))),
                F.floor(F.col(cnt_col).cast("double") * F.lit(10000.0) + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .when(
            (F.col(le_col) != float("inf")) & (width > 0),
            F.floor(
                F.col(cnt_col).cast("double") * (ov / width) * F.lit(10000.0) + F.lit(0.5)
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    folded = (
        df.withColumn("_c4", c4)
        .groupBy(*group_cols)
        .agg(
            F.sum(cnt_col).cast("long").alias("n_obs"),
            F.sum("_c4").alias("_in4"),
        )
        .filter(F.col("n_obs") > 0)
    )
    return folded.select(
        *group_cols,
        "n_obs",
        round4_expr(
            (F.col("_in4") / F.lit(10000.0)) / F.col("n_obs").cast("double")
        ).alias("fraction"),
    )


def series_downsample(
    df: DataFrame,
    series_cols: list[str],
    factor: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
    cnt_col: str = "cnt",
    resolution: int = 60_000_000_000,
) -> DataFrame:
    """Re-bucket a dense fetch frame to a coarser resolution (``factor``
    fine slots -> one coarse slot) — the long-retention downsampling pass
    (keep 1m slots for a week, 10m for a year). The reference expresses
    this as parallel databases at coarser Params (readme.md: multiple
    resolutions per metric); here it is ONE aggregation over the fetch
    frame, exact because the Point (total, cnt) pair is decomposable.
    min/max/observed-slot census ride the same single shuffle keyed by
    (series, coarse bucket) — slots-per-coarse-bucket is ``factor``, so
    no skew by construction. Sums are integer-scaled exact folds
    (functions/num.py:exact_sum4_expr): the plain round4(sum(double)) form
    was the r07 driver-gate red — a partition-order FP sum rounded at the
    4dp boundary; min/max/census are order-free already."""
    from kadiyadb_spark.functions.num import exact_sum4_expr, round4_expr

    if factor < 1:
        raise ValueError(f"downsample factor must be >= 1, got {factor}")
    coarse = factor * resolution
    cb = F.col(bucket_col) - F.col(bucket_col) % F.lit(coarse)
    return (
        df.groupBy(*series_cols, cb.alias(bucket_col))
        .agg(
            exact_sum4_expr(F.col(total_col)).alias(total_col),
            # cnt is integer-valued (ingest quantizes counts at dp=0) —
            # folding at dp=0 keeps the full 2^53 headroom instead of
            # burning 1e4 of it on decimals cnt never has (fold_aggs'
            # r13 convention)
            exact_sum4_expr(F.col(cnt_col), dp=0).alias(cnt_col),
            round4_expr(F.min(total_col)).alias("min_total"),
            round4_expr(F.max(total_col)).alias("max_total"),
            F.sum((F.col(cnt_col) > 0).cast("long")).alias("n_observed"),
        )
    )


def series_anomaly(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int = 12,
    z_thresh: float = 3.0,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """Trailing z-score anomaly flag per slot: each slot's total compared
    to the mean/stddev of the PRECEDING ``window_slots`` slots — current
    slot excluded, so an outlier cannot defend itself by inflating its own
    baseline. z is null (and the flag false) until a series has a full
    baseline window, and when the baseline is flat (zero variance, where
    a z-score is undefined). Same one series-keyed window shuffle as the
    other fetch transforms — compose them and Spark rides one Exchange.

    Engine-default-free (closes the last windowed-variance residue): the
    window folds EXACT scaled longs — S1 = sum(x4), S2 = sum(x4²) with
    x4 = round(total·1e4) — and the variance is computed about an
    in-window integer reference via the exact decimal(38,0) identities
    S1d = S1 − n·m and S2d = S2 − 2·m·S1 + n·m² (m = the OLDEST in-frame
    value; ``num.centered_var4``), so a flat window gives S1d = S2d = 0
    EXACTLY at any magnitude, and the one double expression
    var4 = (n·S2d − S1d²)/(n·(n−1)) — an m-invariant identity for
    n·Σ(x−x̄)² — is conditioned on the window's SPREAD, not its level
    (the uncentered n·S2 − S1² form cancels catastrophically past 2^53
    and fabricated anomalies on flat baselines at totals above ~2.7e3 —
    caught by live review). Every FP op runs on identical operands in
    identical order in any engine, unlike avg/stddev_samp whose
    accumulation order is an engine default.

    Physical shape (the r09 rewrite of the r08 bench regression): Spark
    re-aggregates BOUNDED sliding frames from scratch for every output
    row — the four ``ROWS BETWEEN -w AND -1`` folds cost O(w) per row
    each. The window sums are instead taken as differences of two
    cumulative sums per measure (frames ``(-∞, -1)`` and
    ``(-∞, -(w+1))``, both incrementally maintained, O(1)/row), the
    count from ``row_number`` and the centering reference from
    ``lag(x4, w)`` (offset frames, O(1)/row) — same integers, one sort,
    ~w× less window compute. The cumulative folds and the window
    differences S1/S2 stay in decimal(38,0), so neither the
    partition-length running total nor a long window can wrap (per-row
    bound: x4² must fit a long, |total| ≤ 8.7e4 at 4dp).
    """
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w_ord = Window.partitionBy(*series_cols).orderBy(bucket_col)
    cum_hi = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    cum_lo = w_ord.rowsBetween(Window.unboundedPreceding, -(window_slots + 1))
    df = df.withColumn("_x4", scale4_expr(F.col(total_col))).withColumn(
        "_x4sq", F.col("_x4") * F.col("_x4")
    )
    dec1 = F.col("_x4").cast("decimal(38,0)")
    dec2 = F.col("_x4sq").cast("decimal(38,0)")
    x4 = F.col("_x4")
    s1 = F.sum(dec1).over(cum_hi) - F.coalesce(F.sum(dec1).over(cum_lo), F.lit(0))
    s2 = F.sum(dec2).over(cum_hi) - F.coalesce(F.sum(dec2).over(cum_lo), F.lit(0))
    m = F.lag("_x4", window_slots).over(w_ord)
    n = F.least(F.row_number().over(w_ord) - F.lit(1), F.lit(window_slots)).cast(
        "long"
    )
    nd = n.cast("double")
    # exact centering about the oldest in-frame value (see docstring)
    var4 = centered_var4(n, s1, s2, m, nd * (nd - F.lit(1.0)))
    mean4 = s1.cast("double") / nd
    z = F.when(
        (n == window_slots) & (var4 > 0),
        (x4.cast("double") - mean4) / F.sqrt(var4),
    )
    zr = round4_expr(z)
    return df.select(
        *series_cols,
        bucket_col,
        (x4 / F.lit(10000.0)).alias(total_col),
        round4_expr(
            F.when(n == window_slots, mean4 / F.lit(10000.0))
        ).alias("baseline_mean"),
        zr.alias("zscore"),
        F.coalesce(F.abs(zr) >= F.lit(z_thresh), F.lit(False)).alias("is_anomaly"),
    )


def series_resets_changes(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """PromQL ``resets()`` + ``changes()`` over a dense fetch frame: per
    slot, how many times the series value DECREASED (a counter restart)
    and how many times it CHANGED AT ALL within the trailing
    ``window_slots`` slots — the alerting primitives behind
    "service restarted N times in the last hour" and flap detection.
    The first slot of a series has no predecessor, so it contributes no
    event to any frame (Prometheus compares consecutive samples inside
    the range; k samples yield k-1 comparisons).

    Engine-default-free by construction (SURVEY §15.1): totals scale to
    exact longs, reset/change are integer comparisons, and the frame sums
    fold 0/1 longs — associative, identical in any engine at any
    parallelism. Same ONE series-keyed window Exchange as the rest of the
    fetch transform family."""
    if window_slots < 1:
        raise ValueError(f"need window_slots >= 1, got {window_slots}")
    from pyspark.sql import Window

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    wf = w.rowsBetween(-(window_slots - 1), 0)
    t4 = scale4_expr(F.col(total_col))
    base = df.select(
        *series_cols,
        bucket_col,
        t4.alias("_t4"),
        F.lag(t4).over(w).alias("_prev4"),
    )
    is_reset = (F.col("_prev4").isNotNull() & (F.col("_t4") < F.col("_prev4"))).cast(
        "long"
    )
    is_change = (F.col("_prev4").isNotNull() & (F.col("_t4") != F.col("_prev4"))).cast(
        "long"
    )
    return base.select(
        *series_cols,
        bucket_col,
        (F.col("_t4") / F.lit(10000.0)).alias(total_col),
        F.sum(is_reset).over(wf).alias("resets"),
        F.sum(is_change).over(wf).alias("changes"),
    )


def series_gaps(
    df: DataFrame,
    series_cols: list[str],
    bucket_col: str = "bucket",
    cnt_col: str = "cnt",
    resolution: int = 60_000_000_000,
) -> DataFrame:
    """PromQL ``absent_over_time`` made actionable: the contiguous runs of
    never-written slots per series in a dense fetch frame — "this probe
    sent nothing from 02:17 to 02:43". Dense zero-fill turns absence into
    ``cnt = 0`` rows, so gaps-and-islands is exact integer arithmetic:
    slot index minus the per-series rank of absent slots is constant
    within a run (both are integers; no session-window heuristics).
    Output: one row per gap with its half-open [gap_start, gap_end) and
    slot count, ordered nowhere (fine-print #8).

    ONE exchange: the series-keyed window (shared with the transform
    family when composed); the run groupBy keys on (series, run), a
    superset of the window's partitioning, so ClusteredDistribution is
    already satisfied and Catalyst adds no second shuffle
    (plan-asserted). The cnt=0 filter precedes the window, so only
    absent slots ever shuffle — a mostly-healthy fleet moves almost
    nothing."""
    return (
        df.filter(F.col(cnt_col) == 0)
        .select(*series_cols, bucket_col, _run_key(series_cols, bucket_col, resolution))
        .groupBy(*series_cols, "_run")
        .agg(
            F.min(bucket_col).alias("gap_start"),
            (F.max(bucket_col) + F.lit(resolution)).alias("gap_end"),
            F.count(F.lit(1)).alias("n_slots"),
        )
        .drop("_run")
    )


def _run_key(series_cols: list[str], bucket_col: str, resolution: int) -> "F.Column":
    """THE gaps-and-islands run key of ``series_gaps``, ``series_alerts``
    and ``fetch_rule_group``: slot index minus the per-series rank of the
    kept slots is constant within a run of consecutive slots (both
    integers; no session-window heuristics). Integer DIV, not double
    division: buckets are epoch-ns longs (~1.7e18), past double's 2^53
    exact range."""
    from pyspark.sql import Window

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    return (
        F.expr(f"CAST({bucket_col} DIV {resolution} AS LONG)")
        - F.row_number().over(w).cast("long")
    ).alias("_run")


def _alert_runs(
    df: DataFrame, keys: list[str], bucket_col: str, resolution: int, for_slots: "F.Column"
) -> DataFrame:
    """The pending→firing run aggregation of ``series_alerts`` and
    ``fetch_rule_group`` over ``df``'s condition-holding slots (``keys``,
    ``bucket_col``, scaled total ``_t4``): one row per run of consecutive
    slots per ``keys`` — pending_start, firing_start, run_end, n_slots,
    peak — kept when it holds ``for_slots`` slots (a literal, or a per-row
    expression such as a rule group's when-chain). The run groupBy keys on
    (keys, run), a superset of the run key's window partitioning, so it
    adds no Exchange of its own."""
    return (
        df.select(
            *keys,
            bucket_col,
            "_t4",
            for_slots.cast("long").alias("_for"),
            _run_key(keys, bucket_col, resolution),
        )
        .groupBy(*keys, "_run")
        .agg(
            F.min(bucket_col).alias("pending_start"),
            (
                F.min(bucket_col)
                + (F.min("_for") - F.lit(1).cast("long")) * F.lit(resolution)
            ).alias("firing_start"),
            (F.max(bucket_col) + F.lit(resolution)).alias("run_end"),
            F.count(F.lit(1)).alias("n_slots"),
            (F.max("_t4") / F.lit(10000.0)).alias("peak"),
            F.min("_for").alias("_fs"),
        )
        .filter(F.col("n_slots") >= F.col("_fs"))
        .drop("_run", "_fs")
    )


def series_last_over_time(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
    cnt_col: str = "cnt",
) -> DataFrame:
    """PromQL ``last_over_time`` + staleness over a dense fetch frame: per
    slot, the total at the most recent WRITTEN slot (``cnt > 0``) within
    the trailing ``window_slots`` slots, and how many slots ago that write
    happened — the gauge carry-forward dashboards draw and the "silent
    for N minutes" staleness alert. Dense zero-fill makes absence explicit
    (``cnt = 0``), so "last reported value" is well-defined without
    engine-specific gap semantics; a window with no write yields null
    value and null age.

    Engine-default-free: totals scale to exact longs, the carried value is
    ``last(... ignore nulls)`` over an integer — a POSITIONAL pick, no
    arithmetic accumulation at all — and the age is a subtraction of
    row_number ranks. Same ONE series-keyed window Exchange as the rest of
    the transform family (the rank and frame windows share partitioning
    and ordering)."""
    if window_slots < 1:
        raise ValueError(f"need window_slots >= 1, got {window_slots}")
    from pyspark.sql import Window

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    wf = w.rowsBetween(-(window_slots - 1), 0)
    t4 = scale4_expr(F.col(total_col))
    base = df.select(
        *series_cols,
        bucket_col,
        t4.alias("_t4"),
        F.col(cnt_col).cast("long").alias("_cnt"),
        F.row_number().over(w).cast("long").alias("_rn"),
    )
    last4 = F.last(F.when(F.col("_cnt") > 0, F.col("_t4")), ignorenulls=True).over(wf)
    last_rn = F.last(F.when(F.col("_cnt") > 0, F.col("_rn")), ignorenulls=True).over(wf)
    return base.select(
        *series_cols,
        bucket_col,
        (F.col("_t4") / F.lit(10000.0)).alias(total_col),
        (last4 / F.lit(10000.0)).alias("last_total"),
        (F.col("_rn") - last_rn).alias("slots_since_write"),
    )


def series_holt_winters(
    df: DataFrame,
    series_cols: list[str],
    sf: float = 0.3,
    tf: float = 0.1,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """PromQL ``holt_winters(v, sf, tf)``: per-series double exponential
    smoothing over a dense fetch frame — level ``s`` tracks the value,
    trend ``b`` tracks its slope, both updated per slot:

        s_t = sf*y_t + (1-sf)*(s_{t-1} + b_{t-1})
        b_t = tf*(s_t - s_{t-1}) + (1-tf)*b_{t-1}

    with the Prometheus initialization s_0 = y_0, b_0 = y_1 - y_0.
    The recursion is inherently sequential per series (not a window
    fold), so it runs as ONE Arrow ``applyInPandas`` kernel per series
    group — parallel across series, which is where the cardinality lives
    at 100 TB; a series' dense frame is bounded by the requested range.

    Engine-default-free (SURVEY §15.1) despite being an FP recursion:
    state is RE-QUANTIZED to scaled longs at every step — each update
    computes one double expression over exact integer operands and
    floors at the 4dp boundary (``floor(x + 0.5)``), so any engine
    replaying the same rule gets bit-identical state at every step;
    cross-engine divergence cannot accumulate. Gate twin: a DuckDB
    RECURSIVE CTE replaying the rule (the third iterative algorithm
    value-checked cross-engine, after the BPE trainer and no-split
    packing)."""
    if not (0.0 < sf < 1.0) or not (0.0 < tf < 1.0):
        raise ValueError(f"smoothing/trend factors must be in (0, 1), got {sf}, {tf}")
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    isf = 1.0 - sf  # computed, not a literal: the oracle mirrors (1.0 - sf)
    itf = 1.0 - tf  # so both engines run the identical IEEE subtraction
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in series_cols]
        + [
            in_fields[bucket_col],
            StructField(total_col, DoubleType()),
            StructField("smoothed", DoubleType()),
            StructField("trend", DoubleType()),
        ]
    )

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(bucket_col)
        y4 = np.floor(
            pdf[total_col].to_numpy(np.float64) * 10000.0 + 0.5
        ).astype(np.int64)
        n = len(y4)
        s = np.empty(n, np.int64)
        b = np.empty(n, np.int64)
        s[0] = y4[0]
        b[0] = y4[1] - y4[0] if n >= 2 else 0
        for t in range(1, n):
            s_new = int(np.floor(sf * y4[t] + isf * float(s[t - 1] + b[t - 1]) + 0.5))
            b[t] = int(
                np.floor(tf * float(s_new - s[t - 1]) + itf * float(b[t - 1]) + 0.5)
            )
            s[t] = s_new
        out = {c: pdf[c].to_numpy() for c in series_cols}
        out[bucket_col] = pdf[bucket_col].to_numpy()
        out[total_col] = y4 / 10000.0
        out["smoothed"] = s / 10000.0
        out["trend"] = b / 10000.0
        return pd.DataFrame(out)

    return df.select(*series_cols, bucket_col, total_col).groupBy(
        *series_cols
    ).applyInPandas(_kernel, out_schema)


def series_quantile_over_time(
    df: DataFrame,
    series_cols: list[str],
    phi: float,
    window_slots: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """PromQL ``quantile_over_time(phi, v[w])`` — plus ``min_over_time``/
    ``max_over_time`` riding the same frame free: per slot, the
    type-7 (linearly interpolated) phi-quantile, min and max of the
    trailing ``window_slots`` totals. The p99-latency-over-the-last-hour
    panel. Slots near a series' start use the points present, exactly as
    Prometheus evaluates a partially-covered range.

    Engine-default-free under one documented condition: totals scale to
    exact longs and min/max are integer folds, so the only FP is the
    quantile interpolation ``a + f*(b - a)`` — and when ``phi`` is
    DYADIC (k/2^m: 0.5, 0.25, 0.75, 0.875, ...) over an integer frame,
    every term is exactly representable, so ANY algebraic form of the
    type-7 formula yields the bit-identical double in any engine. Pass a
    non-dyadic phi and you accept the engines' interpolation expression
    shape (the `percentiles` entry precedent, green since r04). One
    series-keyed window Exchange, shared with the transform family."""
    if not (0.0 <= phi <= 1.0):
        raise ValueError(f"phi must be in [0, 1], got {phi}")
    if window_slots < 1:
        raise ValueError(f"need window_slots >= 1, got {window_slots}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*series_cols)
        .orderBy(bucket_col)
        .rowsBetween(-(window_slots - 1), 0)
    )
    t4 = scale4_expr(F.col(total_col))
    base = df.select(*series_cols, bucket_col, t4.alias("_t4"))
    return base.select(
        *series_cols,
        bucket_col,
        (F.col("_t4") / F.lit(10000.0)).alias(total_col),
        (F.percentile("_t4", F.lit(phi)).over(w) / F.lit(10000.0)).alias("quantile"),
        (F.min("_t4").over(w) / F.lit(10000.0)).alias("min_total"),
        (F.max("_t4").over(w) / F.lit(10000.0)).alias("max_total"),
    )


def series_seasonal_profile(
    df: DataFrame,
    series_cols: list[str],
    period_slots: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
    resolution: int = 60_000_000_000,
) -> DataFrame:
    """Seasonal baseline: per series and slot-of-period (minute-of-day
    with ``period_slots=1440``, hour-of-week with 168 at 1h resolution),
    the mean/min/max of the total across every period in the frame — the
    "typical day" profile anomaly detectors compare against and
    dashboards draw as the shaded band. Slot-of-period is integer DIV +
    modulo on the bucket (no calendar functions, timezone-free); the
    mean is the exact integer-scaled fold (functions/num.py); min/max
    are order-free. ONE groupBy shuffle keyed by
    (series, slot_of_period) — output cardinality is series x
    period_slots regardless of how many periods the frame spans."""
    if period_slots < 1:
        raise ValueError(f"need period_slots >= 1, got {period_slots}")
    from kadiyadb_spark.functions.num import exact_avg4_expr, round4_expr

    slot = F.expr(
        f"CAST(({bucket_col} DIV {resolution}) % {period_slots} AS LONG)"
    ).alias("slot_of_period")
    return (
        df.select(*series_cols, slot, F.col(total_col))
        .groupBy(*series_cols, "slot_of_period")
        .agg(
            F.count(F.lit(1)).alias("n_periods"),
            exact_avg4_expr(F.col(total_col)).alias("mean_total"),
            round4_expr(F.min(total_col)).alias("min_total"),
            round4_expr(F.max(total_col)).alias("max_total"),
        )
    )


def series_mad_anomaly(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int = 12,
    z_thresh: float = 3.5,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """ROBUST anomaly detection via the modified z-score (Iglewicz-Hoaglin
    0.6745·(x − median)/MAD, classic cutoff 3.5): median/MAD shrug off the
    very outliers that inflate a mean/stddev baseline — one earlier spike
    in the window makes series_anomaly blind to the next one (masking);
    the breakdown point here is 50%. Baseline = the ``window_slots`` slots
    BEFORE the current one (the series_anomaly convention); scores are
    null until a full window exists or when MAD is zero (a >50%-flat
    window — spread-less, like the flat case of the variance family).

    Engine-default-free: the window collects exact scaled longs; the
    median of a sorted integer array at the FIXED even/odd positions is
    ``(a+b)/2.0`` — a dyadic-half, exactly representable; deviations
    ``|x − med|`` over longs and dyadic-halves are exact; the MAD is
    again a two-position pick; the only non-dyadic constant (0.6745) is
    the same repr'd literal in both engines, and the z is ONE double
    expression over exact operands. Positions are compile-time constants
    because scoring requires the full window.

    Scale shape: the same ONE series-keyed window Exchange as the
    transform family; per-row state is the window array (window_slots
    longs — 60-slot hours, not unbounded history)."""
    if window_slots < 2:
        raise ValueError(f"need window_slots >= 2, got {window_slots}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = (
        Window.partitionBy(*series_cols)
        .orderBy(bucket_col)
        .rowsBetween(-window_slots, -1)
    )
    n = window_slots
    lo, hi = (n - 1) // 2 + 1, n // 2 + 1  # 1-based middle positions
    x4 = scale4_expr(F.col(total_col))
    base = df.select(
        *series_cols,
        bucket_col,
        x4.alias("_x4"),
        F.collect_list(x4).over(w).alias("_arr"),
    )
    # STAGED projections, one derived column per step: higher-order
    # functions run interpreted (no whole-stage codegen, no common-subexpr
    # elimination), so inlining ``med`` into the per-element deviation
    # lambda re-evaluates the array sort + picks PER ELEMENT — measured
    # 90.7 s vs 4.7 s at sf0.1 (19x). Catalyst's CollapseProject keeps the
    # stages because the reused producers are non-cheap.
    # try_element_at, not element_at: partial windows are SHORTER than the
    # fixed middle positions, and ANSI mode turns out-of-bounds into an
    # error instead of null.
    st = base.withColumn("_s", F.array_sort(F.col("_arr")))
    st = st.withColumn(
        "_med",
        (F.try_element_at("_s", F.lit(lo)) + F.try_element_at("_s", F.lit(hi))).cast(
            "double"
        )
        / F.lit(2.0),
    )
    st = st.withColumn(
        "_devs",
        F.array_sort(F.transform("_s", lambda v: F.abs(v.cast("double") - F.col("_med")))),
    )
    st = st.withColumn(
        "_mad",
        (F.try_element_at("_devs", F.lit(lo)) + F.try_element_at("_devs", F.lit(hi)))
        / F.lit(2.0),
    )
    full = F.size("_arr") == n
    mad, med = F.col("_mad"), F.col("_med")
    z = F.when(
        full & (mad > 0),
        F.lit(0.6745) * (F.col("_x4").cast("double") - med) / mad,
    )
    zr = round4_expr(z)
    return st.select(
        *series_cols,
        bucket_col,
        (F.col("_x4") / F.lit(10000.0)).alias(total_col),
        round4_expr(F.when(full, med / F.lit(10000.0))).alias("baseline_median"),
        round4_expr(F.when(full, mad / F.lit(10000.0))).alias("mad"),
        zr.alias("rzscore"),
        F.coalesce(F.abs(zr) >= F.lit(z_thresh), F.lit(False)).alias("is_anomaly"),
    )


def series_cusum(
    df: DataFrame,
    series_cols: list[str],
    baseline_slots: int = 12,
    threshold: float = 5.0,
    drift: float = 0.0,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """Tabular CUSUM changepoint detection (Page 1954; the NIST/SPC
    two-sided form): the first ``baseline_slots`` slots of each series set
    the reference mean mu0, then the classic recursions
    S+_t = max(0, S+_{t-1} + x_t - mu0 - drift) and
    S-_t = max(0, S-_{t-1} - x_t + mu0 - drift) accumulate evidence of a
    sustained LEVEL SHIFT; a slot fires when either side exceeds
    ``threshold``. Complements the point-anomaly family (z-score / MAD /
    Tukey fences catch spikes; CUSUM catches small persistent shifts they
    are blind to). Warmup slots (the baseline itself) emit nulls.

    NO recurrence is executed: by the running-minimum identity,
    S+_t = C_t - min_{j<=t} C_j for the drift-adjusted cumulative
    deviation C, so both sides are differences of an O(1)/row cumulative
    sum and an O(1)/row running min/max over ONE series-keyed sort — the
    same physical shape as series_anomaly's r09 rewrite, embarrassingly
    parallel across series.

    Engine-default-free: deviations are scaled through q = baseline_slots
    so mu0 = S1b/q never becomes a float — C'_t = q*(c1_t - S1b) -
    (t-q)*S1b -/+ (t-q)*q*drift4 is an exact integer (decimal(38,0)
    folds), the threshold compare is integer (S' > q*h4), and ONE double
    division scales the reported statistic. Any engine replays the same
    integers in any partition layout."""
    if baseline_slots < 1:
        raise ValueError(f"need baseline_slots >= 1, got {baseline_slots}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import quantize4, round4_expr

    q = baseline_slots
    drift4 = quantize4(drift)
    h4 = quantize4(threshold)
    w_ord = Window.partitionBy(*series_cols).orderBy(bucket_col)
    cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    full = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df = df.withColumn("_x4", scale4_expr(F.col(total_col)))
    rn = F.row_number().over(w_ord)
    c1 = F.sum(F.col("_x4").cast("decimal(38,0)")).over(cum)
    st = df.select(
        *series_cols, bucket_col, "_x4",
        rn.alias("_rn"), c1.alias("_c1"),
    ).withColumn(
        # the baseline sum S1b = the cumulative sum at row q, as a
        # per-series constant (whole-partition frame, same sort)
        "_s1b",
        F.max(F.when(F.col("_rn") == q, F.col("_c1"))).over(full),
    )
    t_off = (F.col("_rn") - F.lit(q)).cast("decimal(38,0)")
    base = F.lit(q) * (F.col("_c1") - F.col("_s1b")) - t_off * F.col("_s1b")
    cpos = F.when(F.col("_rn") > q, base - t_off * F.lit(q * drift4))
    cneg = F.when(F.col("_rn") > q, -base - t_off * F.lit(q * drift4))
    # S = C - min(0, running min of C): the j = q origin contributes the 0
    sp = cpos - F.least(F.lit(0).cast("decimal(38,0)"), F.min(cpos).over(cum))
    sn = cneg - F.least(F.lit(0).cast("decimal(38,0)"), F.min(cneg).over(cum))
    scale = F.lit(float(q) * 10000.0)
    fire = (sp > F.lit(q * h4)) | (sn > F.lit(q * h4))
    return st.select(
        *series_cols,
        bucket_col,
        (F.col("_x4") / F.lit(10000.0)).alias(total_col),
        round4_expr(sp.cast("double") / scale).alias("cusum_pos"),
        round4_expr(sn.cast("double") / scale).alias("cusum_neg"),
        F.coalesce(fire, F.lit(False)).alias("is_change"),
    )


def series_outlier_fences(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int = 60,
    k: float = 1.5,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """Tukey boxplot fences over the trailing window: per slot, Q1/Q3 of
    the last ``window_slots`` totals, the fences Q1 − k·IQR / Q3 + k·IQR,
    and whether the CURRENT value breaches them — the box-and-whisker
    band dashboards shade and the distribution-free outlier flag that
    needs no normality assumption (the z-score detectors' blind spot on
    skewed latencies). Slots without a full window yield null fences and
    a false flag.

    Every term is EXACT: totals scale to longs; the type-7 quartiles at
    dyadic phis over an integer frame are multiples of 1/4; IQR is their
    difference; the default k=1.5 (dyadic) makes the fences multiples of
    1/8 — bit-identical doubles in any engine, every comparison exact.
    Same ONE series-keyed window Exchange as the transform family."""
    if window_slots < 1:
        raise ValueError(f"need window_slots >= 1, got {window_slots}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w = (
        Window.partitionBy(*series_cols)
        .orderBy(bucket_col)
        .rowsBetween(-window_slots, -1)
    )
    x4 = scale4_expr(F.col(total_col))
    base = df.select(
        *series_cols,
        bucket_col,
        x4.alias("_x4"),
        F.percentile(x4, F.lit(0.25)).over(w).alias("_q1"),
        F.percentile(x4, F.lit(0.75)).over(w).alias("_q3"),
        F.count(x4).over(w).alias("_n"),
    )
    full = F.col("_n") == window_slots
    iqr = F.col("_q3") - F.col("_q1")
    lo = F.when(full, F.col("_q1") - F.lit(k) * iqr)
    hi = F.when(full, F.col("_q3") + F.lit(k) * iqr)
    xd = F.col("_x4").cast("double")
    return base.select(
        *series_cols,
        bucket_col,
        (F.col("_x4") / F.lit(10000.0)).alias(total_col),
        round4_expr(F.col("_q1") / F.lit(10000.0)).alias("q1"),
        round4_expr(F.col("_q3") / F.lit(10000.0)).alias("q3"),
        round4_expr(lo / F.lit(10000.0)).alias("lo_fence"),
        round4_expr(hi / F.lit(10000.0)).alias("hi_fence"),
        F.coalesce((xd < lo) | (xd > hi), F.lit(False)).alias("is_outlier"),
    )


def series_seasonal_anomaly(
    df: DataFrame,
    baseline: DataFrame,
    series_cols: list[str],
    period_slots: int,
    z_thresh: float = 3.0,
    min_periods: int = 2,
    bucket_col: str = "bucket",
    total_col: str = "total",
    resolution: int = 60_000_000_000,
) -> DataFrame:
    """Seasonality-aware anomaly detection: score each slot of a CURRENT
    dense frame against the typical value of its slot-of-period in a
    BASELINE frame — "is 09:30 today abnormal for a 09:30", the question
    the trailing-window z-score (series_anomaly) cannot ask because a
    daily peak always looks anomalous against the preceding quiet hours.
    ``period_slots=1440`` at 1-minute resolution = minute-of-day; 168 at
    1 hour = hour-of-week.

    The baseline profile folds EXACT scaled longs per (series,
    slot-of-period) — S1, S2 and the integer minimum for the same
    re-centering that conditions series_anomaly/series_stddev_over_time
    (a flat slot history is exactly zero variance at any magnitude) —
    then the SAMPLE variance, mean and z are each ONE double expression
    over exact operands: identical IEEE sequence in any engine. Slots
    with fewer than ``min_periods`` baseline periods or zero spread
    yield null z (coalesced to non-anomalous). Slot-of-period is integer
    DIV + modulo — no calendar functions, timezone-free.

    Scale shape: one groupBy shuffle over the baseline (output bounded
    by series x period_slots regardless of baseline length) and one join
    keyed the same way; the current frame never shuffles on anything
    wider. Output: series, bucket, total, slot_of_period, expected,
    zscore, is_anomaly."""
    if period_slots < 1:
        raise ValueError(f"need period_slots >= 1, got {period_slots}")
    if min_periods < 2:
        raise ValueError(f"sample variance needs min_periods >= 2, got {min_periods}")
    from kadiyadb_spark.functions.num import round4_expr

    def slot(col: str) -> F.Column:
        return F.expr(f"CAST(({col} DIV {resolution}) % {period_slots} AS LONG)")

    x4b = scale4_expr(F.col(total_col))
    # decimal(38,0) folds: sum(x4^2) in plain long wraps past ~37 baseline
    # periods at totals ~5e4 — the overflow class the r09 rewrite moved
    # series_anomaly/stddev_over_time to decimal for (review finding)
    x4d = F.col("_x4").cast("decimal(38,0)")
    prof = (
        baseline.select(*series_cols, slot(bucket_col).alias("slot_of_period"), x4b.alias("_x4"))
        .groupBy(*series_cols, "slot_of_period")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x4d).alias("_s1"),
            F.sum(x4d * x4d).alias("_s2"),
            F.min("_x4").alias("_m"),
        )
    )
    cur = df.select(
        *series_cols,
        F.col(bucket_col),
        slot(bucket_col).alias("slot_of_period"),
        scale4_expr(F.col(total_col)).alias("_x4"),
    )
    j = cur.join(prof, [*series_cols, "slot_of_period"], "left")
    n, s1 = F.col("_n"), F.col("_s1")
    nd = n.cast("double")
    # exact re-centering about the slot history's minimum: a flat history
    # is EXACTLY zero spread
    var4 = centered_var4(n, s1, F.col("_s2"), F.col("_m"), nd * (nd - F.lit(1.0)))
    mean4 = s1.cast("double") / nd
    enough = n >= min_periods
    z = F.when(enough & (var4 > 0), (F.col("_x4").cast("double") - mean4) / F.sqrt(var4))
    zr = round4_expr(z)
    return j.select(
        *series_cols,
        bucket_col,
        (F.col("_x4") / F.lit(10000.0)).alias(total_col),
        "slot_of_period",
        round4_expr(F.when(enough, mean4 / F.lit(10000.0))).alias("expected"),
        zr.alias("zscore"),
        F.coalesce(F.abs(zr) >= F.lit(z_thresh), F.lit(False)).alias("is_anomaly"),
    )


def series_binop(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    a_pattern: list[str],
    b_pattern: list[str],
    op: str = "sub",
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """The general PromQL binary operation between two exact series —
    ``a + b``, ``a - b`` (headroom: capacity minus load), ``a * b``,
    ``a / b`` — on series_ratio's one-scan pivot shape: a single
    pushed-down cube scan filters BOTH paths, a conditional-sum pivot
    aligns them per slot, and the op is one expression over the two
    aligned values. A slot where either side is absent yields null
    (PromQL vector matching drops unmatched samples; null is the
    frame-preserving analog — dense zero-fill only applies to fetches,
    not to raw cube pivots).

    Engine-default-free: both sides fold to exact scaled longs;
    add/sub stay in integer arithmetic; mul is one integer product
    (exact: |a4·b4| < 2^63 at the fixture scale) with ONE division;
    div is one long/long division. Same validation as series_ratio
    (exact scalar patterns, equal depth)."""
    ops = {"add", "sub", "mul", "div"}
    if op not in ops:
        raise ValueError(f"op must be one of {sorted(ops)}, got {op!r}")
    depth, pa, pb = _require_exact_pair(a_pattern, b_pattern, "series_binop")
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    from kadiyadb_spark.functions.num import round4_expr

    g = _pivot_pair(cube, rng, depth, pa, pb)
    a4, b4 = F.col("_a4"), F.col("_b4")
    if op == "add":
        val = ((a4 + b4) / F.lit(10000.0))
    elif op == "sub":
        val = ((a4 - b4) / F.lit(10000.0))
    elif op == "mul":
        val = round4_expr((a4 * b4) / F.lit(100_000_000.0))
    else:  # div
        val = round4_expr(F.when(b4 != 0, a4 / b4))
    return g.select(
        S.BUCKET,
        (a4 / F.lit(10000.0)).alias("a_total"),
        (b4 / F.lit(10000.0)).alias("b_total"),
        val.alias("value"),
    )


def series_agg_by(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    keep_levels: list[int],
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """PromQL ``avg/min/max/stddev/stdvar/count by (labels)`` over the
    cube — the rest of the aggregation-operator family beside
    ``series_sum_by`` (which covers ``sum by``): per (kept levels, slot),
    the average, extremes, population spread and membership count of the
    collapsed series' slot totals. Same ONE pushed-down scan + ONE
    aggregation shape as series_sum_by — no join, no second Exchange.

    Engine-default-free: avg is the integer-scaled exact mean
    (functions/num.py:exact_avg4_expr — sum(double) partition order
    redlined this class at the r07 driver gate), min/max compare
    4dp-quantized doubles (order-free, no accumulation), counts are
    integers, and stdvar/stddev (population, PromQL semantics) use the
    exact-operand construction from series_stddev_over_time: integer
    folds S1 = Σx4, S2 = Σx4², then ONE double expression
    (n·S2 − S1²)/n²/1e8 — a single-series group gives exactly 0.0."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    if not keep_levels:
        raise ValueError("keep_levels must name at least one level")
    if sorted(set(keep_levels)) != sorted(keep_levels) or any(
        i < 1 or i > depth for i in keep_levels
    ):
        raise ValueError(
            f"keep_levels must be distinct levels in 1..{depth}, got {keep_levels}"
        )
    from kadiyadb_spark.functions.num import exact_avg4_expr, exact_sum4_expr, round4_expr

    keep_cols = [S.field_col(i) for i in sorted(keep_levels)]
    x4 = scale4_expr(F.col(S.TOTAL))
    g = (
        cube.filter(cond)
        .groupBy(*keep_cols, S.BUCKET)
        .agg(
            exact_sum4_expr(F.col(S.TOTAL)).alias("sum_total"),
            exact_avg4_expr(F.col(S.TOTAL)).alias("avg_total"),
            round4_expr(F.min(S.TOTAL)).alias("min_total"),
            round4_expr(F.max(S.TOTAL)).alias("max_total"),
            F.sum(x4.cast("decimal(38,0)")).alias("_s1"),
            # decimal fold: a 37-series group at totals ~5e4 wraps a plain
            # long sum(x4^2) (review finding; same class as above)
            F.sum(x4.cast("decimal(38,0)") * x4.cast("decimal(38,0)")).alias("_s2"),
            F.min(x4).alias("_m"),
            F.count(F.lit(1)).alias("n_series"),
            F.sum(S.CNT).alias("cnt"),
        )
    )
    # exact centering about the group minimum — flat groups give exactly
    # 0 at any magnitude
    n = F.col("n_series")
    nd = n.cast("double")
    var4 = centered_var4(n, F.col("_s1"), F.col("_s2"), F.col("_m"), nd * nd)
    return g.select(
        *keep_cols,
        S.BUCKET,
        "sum_total",
        "avg_total",
        "min_total",
        "max_total",
        round4_expr(var4 / F.lit(100_000_000.0)).alias("stdvar_total"),
        round4_expr(F.sqrt(var4) / F.lit(10000.0)).alias("stddev_total"),
        "n_series",
        "cnt",
    )


def series_topk_per_slot(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    k: int = 3,
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
    largest: bool = True,
) -> DataFrame:
    """PromQL INSTANT ``topk``/``bottomk``: the k highest (lowest) series
    AT EACH SLOT — the "who is loudest right now" panel, a different
    operator from ``series_topk``, which ranks series by their RANGE
    total. One pushed-down scan at the pattern's depth, then one
    bucket-keyed window ranks slot totals; rows beyond k never leave the
    rank filter. The window partitions on the slot, so cardinality per
    window task = series count at that slot (bounded by the key space,
    not the time range) and slots spread across the cluster — the
    transpose of the transform family's series-keyed windows.

    Engine-default-free ranking: row_number over (scaled-long total,
    series path) — a total order both engines compute identically; no FP
    comparison, no rank-tie ambiguity."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    from pyspark.sql import Window

    fcols = S.field_cols(depth)
    t4 = scale4_expr(F.col(S.TOTAL))
    rank_val = F.col("_t4").desc() if largest else F.col("_t4").asc()
    w = Window.partitionBy(S.BUCKET).orderBy(
        rank_val, *[F.col(c).asc() for c in fcols]
    )
    return (
        cube.filter(cond)
        .select(*fcols, S.BUCKET, t4.alias("_t4"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.lit(k))
        .select(
            S.BUCKET,
            F.col("rk").cast("long").alias("rk"),
            *fcols,
            (F.col("_t4") / F.lit(10000.0)).alias("total"),
        )
    )


def series_count_values(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """PromQL ``count_values``: per slot, how many series report each
    distinct value — the value-census view (how many shards sit at
    version X / report exactly N errors). One pushed-down scan + ONE
    (bucket, value) aggregation; output is bounded by slots x distinct
    values, never by series cardinality.

    The grouping key is the SCALED LONG (round(total*1e4)), never the
    double — integer equality is the same in every engine, where
    double-keyed grouping would inherit each engine's parse/format
    quirks; the value column re-derives from the key by one division."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    t4 = scale4_expr(F.col(S.TOTAL))
    return (
        cube.filter(cond)
        .groupBy(S.BUCKET, t4.alias("_t4"))
        .agg(F.count(F.lit(1)).alias("n_series"))
        .select(
            S.BUCKET,
            (F.col("_t4") / F.lit(10000.0)).alias("value"),
            "n_series",
        )
    )


def series_stddev_over_time(
    df: DataFrame,
    series_cols: list[str],
    window_slots: int = 12,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """PromQL ``stddev_over_time``/``stdvar_over_time``: per slot, the
    POPULATION stddev/variance of the trailing ``window_slots`` slots
    (current included — PromQL's range covers the lookback ending now),
    plus the window mean. The volatility panel next to avg_over_time
    (series_smooth). Null until the series has a full window. Same ONE
    series-keyed window Exchange as the rest of the transform family.

    Engine-default-free by the same construction as series_anomaly: the
    window folds EXACT scaled longs (S1 = sum(x4), S2 = sum(x4²)), the
    moments re-center about an in-window integer reference via exact
    decimal(38,0) identities (``num.centered_var4``: S1d = S1 − n·m,
    S2d = S2 − 2·m·S1 + n·m², m = the OLDEST in-frame value: a flat
    window is EXACTLY zero at any magnitude, and
    the n·S2d − S1d² form — invariant to the reference — conditions on
    the spread, not the level), then population variance is ONE double
    expression over exact operands, var = (n·S2d − S1d²)/n² / 1e8 —
    identical IEEE sequence in any engine, where avg/stddev_pop would
    accumulate doubles in engine order.

    Physical shape (r09, same as series_anomaly): bounded sliding frames
    re-aggregate O(w) per output row, so the window sums are differences
    of two O(1)/row cumulative decimal(38,0) folds (10^38 running-total
    headroom; per-row bound unchanged: x4² must fit a long), the count is
    ``row_number`` and the reference ``lag(x4, w−1)`` — same integers,
    one sort, ~w× less window compute."""
    if window_slots < 1:
        raise ValueError(f"need window_slots >= 1, got {window_slots}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    w_ord = Window.partitionBy(*series_cols).orderBy(bucket_col)
    cum_hi = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    cum_lo = w_ord.rowsBetween(Window.unboundedPreceding, -window_slots)
    df = df.withColumn("_x4", scale4_expr(F.col(total_col))).withColumn(
        "_x4sq", F.col("_x4") * F.col("_x4")
    )
    dec1 = F.col("_x4").cast("decimal(38,0)")
    dec2 = F.col("_x4sq").cast("decimal(38,0)")
    x4 = F.col("_x4")
    s1 = F.sum(dec1).over(cum_hi) - F.coalesce(F.sum(dec1).over(cum_lo), F.lit(0))
    s2 = F.sum(dec2).over(cum_hi) - F.coalesce(F.sum(dec2).over(cum_lo), F.lit(0))
    m = F.lag("_x4", window_slots - 1).over(w_ord) if window_slots > 1 else x4
    n = F.least(F.row_number().over(w_ord), F.lit(window_slots)).cast("long")
    nd = n.cast("double")
    var4 = centered_var4(n, s1, s2, m, nd * nd)
    full = n == window_slots
    return df.select(
        *series_cols,
        bucket_col,
        (x4 / F.lit(10000.0)).alias(total_col),
        round4_expr(F.when(full, s1.cast("double") / nd / F.lit(10000.0))).alias("win_mean"),
        round4_expr(
            F.when(full, var4 / F.lit(100_000_000.0))
        ).alias("win_stdvar"),
        round4_expr(
            F.when(full, F.sqrt(var4) / F.lit(10000.0))
        ).alias("win_stddev"),
    )


def series_alerts(
    df: DataFrame,
    series_cols: list[str],
    threshold: float,
    for_slots: int = 1,
    bucket_col: str = "bucket",
    total_col: str = "total",
    resolution: int = 60_000_000_000,
    above: bool = True,
) -> DataFrame:
    """Prometheus ALERTING-RULE evaluation over a dense fetch frame: the
    condition (``total >= threshold``, or ``<=`` with ``above=False``)
    must hold for ``for_slots`` CONSECUTIVE slots before the alert fires
    — the pending→firing semantics of a rule's ``for:`` clause, the
    query every APM deployment of a store like the reference runs on its
    cubes. Output: one row per qualifying run — ``pending_start`` (first
    slot the condition held), ``firing_start`` (the slot the alert
    transitions to firing: pending_start + (for_slots−1)·resolution),
    half-open ``run_end``, ``n_slots``, and the run's ``peak`` total.
    Runs shorter than ``for_slots`` never fire and are dropped.

    Engine-default-free: the condition compares SCALED LONGS
    (round(total·1e4) vs round(threshold·1e4) — no FP comparison at the
    boundary), and runs use series_gaps' integer gaps-and-islands (slot
    index minus per-series rank is constant within a run). ONE exchange:
    the condition filter precedes the series-keyed window so only
    breaching slots shuffle (alerts are sparse by design), and the run
    groupBy keys on (series, run) ⊇ the window partitioning — no second
    shuffle, same plan argument as series_gaps."""
    if for_slots < 1:
        raise ValueError(f"need for_slots >= 1, got {for_slots}")
    from kadiyadb_spark.functions.num import quantize4

    t4 = scale4_expr(F.col(total_col))
    # HALF_UP away from zero — the same quantization F.round applies to
    # the data (quantize4 docstring has the tie fine print)
    thr4 = quantize4(threshold)
    cond = (t4 >= F.lit(thr4)) if above else (t4 <= F.lit(thr4))
    breaching = df.filter(cond).select(*series_cols, bucket_col, t4.alias("_t4"))
    return _alert_runs(breaching, series_cols, bucket_col, resolution, F.lit(for_slots))


def series_quantile_by(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    keep_levels: list[int],
    phi: float = 0.5,
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """PromQL ``quantile by (labels)``: the INSTANT phi-quantile ACROSS
    the collapsed series at each slot (the "median shard" / "p90 worst
    shard" panel) — the across-series complement of
    ``series_quantile_over_time``'s across-time window. Same ONE
    pushed-down scan + ONE aggregation as the agg_by family.

    Engine-default-free under the dyadic-phi condition documented on
    series_quantile_over_time: totals fold as exact scaled longs and the
    only FP is the type-7 interpolation, whose terms are all exactly
    representable when phi = k/2^m — any algebraic form of the formula
    yields the bit-identical double in any engine."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    if not keep_levels:
        raise ValueError("keep_levels must name at least one level")
    if sorted(set(keep_levels)) != sorted(keep_levels) or any(
        i < 1 or i > depth for i in keep_levels
    ):
        raise ValueError(
            f"keep_levels must be distinct levels in 1..{depth}, got {keep_levels}"
        )
    if not (0.0 <= phi <= 1.0):
        raise ValueError(f"phi must be in [0, 1], got {phi}")
    keep_cols = [S.field_col(i) for i in sorted(keep_levels)]
    x4 = scale4_expr(F.col(S.TOTAL))
    return (
        cube.filter(cond)
        .select(*keep_cols, S.BUCKET, x4.alias("_t4"))
        .groupBy(*keep_cols, S.BUCKET)
        .agg(
            (F.percentile("_t4", F.lit(phi)) / F.lit(10000.0)).alias("quantile"),
            F.count(F.lit(1)).alias("n_series"),
        )
    )


def series_share(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """Per-slot SHARE: each matching series' fraction of the slot's total
    across all matching series — the normalized stacked-area view ("what
    share of this minute's traffic was shard 7"), PromQL's
    ``x / ignoring(lbl) group_left sum(x)`` idiom as one operator. One
    pushed-down scan + one bucket-keyed window sum — the same transpose
    partitioning as series_topk_per_slot (per-task state = series at one
    slot; slots spread across the cluster).

    Engine-default-free: the slot total folds exact scaled longs and the
    share is ONE long/long double division (identical IEEE result in any
    engine), rounded at 4dp. A zero slot total yields null shares."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    fcols = S.field_cols(depth)
    t4 = scale4_expr(F.col(S.TOTAL))
    w = Window.partitionBy(S.BUCKET)
    base = cube.filter(cond).select(*fcols, S.BUCKET, t4.alias("_t4"))
    s4 = F.sum("_t4").over(w)
    return base.select(
        S.BUCKET,
        *fcols,
        (F.col("_t4") / F.lit(10000.0)).alias("total"),
        (s4 / F.lit(10000.0)).alias("slot_total"),
        round4_expr(F.when(s4 != 0, F.col("_t4") / s4)).alias("share"),
    )


def series_remap(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    level: int,
    mapping: dict[str, str],
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """Label-value REMAP + re-aggregation — the topology-migration read
    (service renamed, two event types merged into one product area, a
    shard split healed): level ``level``'s values pass through
    ``mapping`` (unlisted values keep themselves — identity, never
    dropped) and the per-slot series re-aggregate under the new naming.
    PromQL's label_replace + sum by, as one operator, without regex (a
    literal mapping is engine-free; regex classes differ between RE2 and
    Java and have burned cross-engine gates before — SURVEY §15.1).

    One pushed-down scan + ONE aggregation keyed by the remapped path;
    exact integer-scaled sums (functions/num.py)."""
    cond, depth = _series_scan_cond(from_ts, to_ts, pattern, resolution, duration)
    if not (1 <= level <= depth):
        raise ValueError(f"level must be in 1..{depth}, got {level}")
    if not mapping:
        raise ValueError("mapping must have at least one entry")
    from kadiyadb_spark.functions.num import exact_sum4_expr

    lcol = S.field_col(level)
    remapped = F.col(lcol)
    for src, dst in sorted(mapping.items()):
        remapped = F.when(F.col(lcol) == F.lit(src), F.lit(dst)).otherwise(remapped)
    keys = [
        (remapped.alias(c) if c == lcol else F.col(c)) for c in S.field_cols(depth)
    ]
    return (
        cube.filter(cond)
        .select(*keys, S.BUCKET, S.TOTAL, S.CNT)
        .groupBy(*S.field_cols(depth), S.BUCKET)
        .agg(
            exact_sum4_expr(F.col(S.TOTAL)).alias("total"),
            F.sum(S.CNT).alias("cnt"),
        )
    )


def series_burn_rate(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    error_pattern: list[str],
    total_pattern: list[str],
    slo: float = 0.999,
    short_slots: int = 5,
    long_slots: int = 60,
    factor: float = 14.4,
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """MULTI-WINDOW SLO BURN RATE (the Google SRE-workbook alerting
    pattern): per slot, the error ratio over a SHORT and a LONG trailing
    window, each normalized by the error budget (1 − slo); the alert
    fires only when BOTH exceed ``factor`` — the long window keeps a
    brief blip from paging, the short window ends the page quickly once
    the burn stops. The canonical production query over exactly the
    error/request counters the reference stores.

    Engine-default-free: one pushed-down scan pivots the two exact paths
    per slot (series_ratio's shape); the slot axis DENSIFIES over the
    range's slot spine (missing slots count 0 — a gap must not shrink the
    window); window sums fold exact scaled longs; each burn is ONE
    long/long division divided by the (1 − slo) literal — both engines
    compute the identical double. The windows order a SINGLE global
    series, so the one-partition window is bounded by the query range's
    slot count, never by data volume. Null burns until the window fills;
    ``firing`` false unless both burns are defined and >= factor.

    Output: bucket, err_total, req_total, burn_short, burn_long,
    firing."""
    depth, pe, pt = _require_exact_pair(error_pattern, total_pattern, "series_burn_rate")
    if not (0.0 < slo < 1.0):
        raise ValueError(f"slo must be in (0, 1), got {slo}")
    if not (1 <= short_slots <= long_slots):
        raise ValueError("need 1 <= short_slots <= long_slots")
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    g = _pivot_pair(cube, rng, depth, pe, pt)
    dense = rng.spine(cube.sparkSession).join(g, S.BUCKET, "left").select(
        S.BUCKET,
        F.coalesce("_a4", F.lit(0)).alias("_e4"),
        F.coalesce("_b4", F.lit(0)).alias("_t4"),
    )
    budget = 1.0 - slo  # one Python double, embedded identically in the oracle

    def _burn(slots):
        w = Window.orderBy(S.BUCKET).rowsBetween(-(slots - 1), 0)
        e = F.sum("_e4").over(w)
        t = F.sum("_t4").over(w)
        n = F.count("_e4").over(w)
        return F.when(
            (n == slots) & (t > 0),
            (e.cast("double") / t.cast("double")) / F.lit(budget),
        )

    bs, bl = _burn(short_slots), _burn(long_slots)
    return dense.select(
        S.BUCKET,
        (F.col("_e4") / F.lit(10000.0)).alias("err_total"),
        (F.col("_t4") / F.lit(10000.0)).alias("req_total"),
        round4_expr(bs).alias("burn_short"),
        round4_expr(bl).alias("burn_long"),
        F.coalesce(
            (bs >= F.lit(factor)) & (bl >= F.lit(factor)), F.lit(False)
        ).alias("firing"),
    )


def fetch_multi(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    patterns: "dict[str, list]",
    resolution: int = 60_000_000_000,
    duration: int = 3_600_000_000_000,
) -> DataFrame:
    """Evaluate a BATCH of patterns in ONE shared scan — the Prometheus
    rule-evaluation-group shape: a dashboard or alert batch runs tens of
    queries over the same range, and at 100 TB the scan, not the
    per-query filter, is the cost. One pass reads the cube ONCE under
    the OR of every pattern's (depth, predicate) conjunction (each
    disjunct is plain equality/IN/rlike, so the pushable parts still
    reach the scan), tags each row with the array of query names whose
    pattern it matches, and explodes — fan-out equals the number of
    matches, rows matching nothing never leave the scan.

    Depths may MIX (real Prometheus rule groups do):
    the output carries field columns to the batch's MAXIMUM depth, and a
    shallower query's rows leave the deeper columns NULL — exactly how
    the cube itself stores rollup rows, so the schema stays rectangular
    and the plan stays ONE scan for the whole batch (each pattern
    matches only rows at ITS depth; tests/test_plans.py pins one Scan
    node and zero shuffles). Output is the SPARSE frame
    (``fetch(densify=False)`` semantics) with a leading ``query`` label:
    (query, epoch, f1..fDmax, bucket, total, cnt). Batches that need
    zero-fill densify per query downstream — densification is per-query
    series membership, which no longer shares work. Row order
    unspecified (fine-print #8)."""
    compiled = _compile_batch(patterns)
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    fcols = S.field_cols(max(d for d, _ in compiled.values()))
    if rng.empty:
        return cube.sparkSession.createDataFrame(
            [],
            schema="query string, epoch long, "
            + ", ".join(f"{c} string" for c in fcols)
            + ", bucket long, total double, cnt double",
        )
    # each pattern's predicate is built once and used twice (the scan's
    # OR and the labels): every Column call is a JVM round trip
    conds = {name: _match_cond(*item) for name, item in sorted(compiled.items())}
    any_match = functools.reduce(operator.or_, conds.values())
    scanned = cube.filter(F.expr(rng.scan_sql()) & any_match)
    # deterministic label order; array_compact drops the non-matches
    labels = F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in conds.items()])
    )
    return scanned.select(
        F.explode(labels).alias("query"), S.EPOCH, *fcols, S.BUCKET, S.TOTAL, S.CNT
    )


def _compile_batch(patterns: "dict[str, list]") -> dict:
    """Validate a named pattern batch: {name: compile_pattern(pattern)}."""
    if not patterns:
        raise ValueError("empty pattern batch")
    return {name: compile_pattern(p) for name, p in patterns.items()}


def fetch_absent(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    pattern: list,
    resolution: int = 60_000_000_000,
    duration: int = 3_600_000_000_000,
) -> DataFrame:
    """PromQL ``absent()``: one row per slot in [from_ts, to_ts) where NO
    series matching ``pattern`` recorded a point — the
    alert-on-missing-data primitive (a feed that stops emitting trips no
    threshold alert; absence itself must be the signal). Returns
    (bucket, absent=1) for exactly the empty slots; matching slots yield
    no row, per Prometheus semantics.

    Plan shape: the matched buckets come off ONE filtered scan (the same
    pushdown predicates as ``fetch``) collapsed to distinct buckets —
    cardinality <= slots in range, tiny — and the range's slot spine
    (a lazily generated Range, no axis table) is LEFT-ANTI joined against
    them. At 100 TB the cost is the pruned scan; the anti-join sides are
    both O(range/resolution) rows."""
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    present = (
        cube.filter(_match_cond(*compile_pattern(pattern)) & F.expr(rng.scan_sql()))
        .select(S.BUCKET)
        .distinct()
    )
    return (
        rng.spine(cube.sparkSession)
        .join(present, on=S.BUCKET, how="left_anti")
        .select(S.BUCKET, F.lit(1).alias("absent"))
    )


def series_subquery(
    df: DataFrame,
    series_cols: list[str],
    step_slots: int,
    range_steps: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
    resolution: int = 60_000_000_000,
    outer: str = "max",
) -> DataFrame:
    """PromQL SUBQUERY evaluation — ``max_over_time(increase(m[res])
    [range:step])``, the alerting composition Prometheus users write for
    "worst step-burst inside the trailing range" (each output slot needs
    an inner range function re-evaluated at every step of an outer
    window; recording rules exist precisely because engines find this
    expensive — here it is two window passes over one frame).

    Semantics over a dense fetch frame: (1) the inner function is
    reset-adjusted ``increase`` per fine slot (series_increase's rule;
    each series' baseline-less first slot contributes 0, documented);
    (2) fine increases FOLD to ``step_slots``-sized step buckets — sum
    of per-slot increases IS increase over the step (telescoping, up to
    resets which are already absorbed per slot); (3) ``outer``
    (max/min/sum) aggregates the trailing ``range_steps`` step values,
    emitted at every step. All three stages are exact scaled-long
    arithmetic with ONE final /1e4 per output column — engine- and
    layout-free; max/min/sum are order-free folds.

    Plan shape: one series-keyed window Exchange (the lag), one
    (series, step) aggregation, one series-keyed window over steps —
    the second window reuses the aggregation's clustering. Steps per
    series is range-bounded, so no skew. ``steps_in_range`` counts the
    steps actually inside each trailing window (< range_steps during
    warm-up) so consumers can gate on full windows."""
    if step_slots < 1:
        raise ValueError(f"step_slots must be >= 1, got {step_slots}")
    if range_steps < 1:
        raise ValueError(f"range_steps must be >= 1, got {range_steps}")
    if outer not in ("max", "min", "sum"):
        raise ValueError(f"outer must be max/min/sum, got {outer!r}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import scale4_expr

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    t4 = scale4_expr(F.col(total_col))
    prev4 = F.lag(t4).over(w)
    d4 = t4 - prev4
    adj4 = (
        F.when(prev4.isNull(), F.lit(0).cast("long"))
        .when(d4 < 0, t4)
        .otherwise(d4)
    )
    step_ns = step_slots * resolution
    fine = df.select(
        *series_cols,
        (F.col(bucket_col) - F.col(bucket_col) % F.lit(step_ns)).alias("_step"),
        adj4.alias("_adj4"),
    )
    steps = fine.groupBy(*series_cols, "_step").agg(
        F.sum("_adj4").alias("_inc4")
    )
    wr = (
        Window.partitionBy(*series_cols)
        .orderBy("_step")
        .rowsBetween(-(range_steps - 1), 0)
    )
    agg = {"max": F.max, "min": F.min, "sum": F.sum}[outer]
    return steps.select(
        *series_cols,
        F.col("_step").alias(bucket_col),
        (F.col("_inc4") / F.lit(10000.0)).alias("step_increase"),
        (agg("_inc4").over(wr) / F.lit(10000.0)).alias(f"subquery_{outer}"),
        F.count(F.lit(1)).over(wr).alias("steps_in_range"),
    )


def series_irate(
    df: DataFrame,
    series_cols: list[str],
    bucket_col: str = "bucket",
    total_col: str = "total",
    cnt_col: str = "cnt",
    resolution: int = 60_000_000_000,
) -> DataFrame:
    """PromQL ``irate()``/``idelta()``: the INSTANT rate — delta between
    the last two OBSERVED points, divided by their actual time distance
    — where ``rate()`` averages over the whole window. The fast-moving
    counter view for dashboards; distinct from series_delta because
    zero-filled gap slots do not participate: after a 10-slot gap the
    rate denominator is 10 slots, not 1.

    Semantics over a dense fetch frame: observed slots are ``cnt > 0``;
    per series, idelta is the reset-adjusted difference against the
    PREVIOUS OBSERVED slot (series_increase's reset rule), and
    irate_per_sec divides by the true gap seconds. Output is SPARSE (one
    row per observed slot; the first observed slot of a series has no
    baseline: nulls). idelta is an exact scaled-long /1e4; irate is one
    fixed-order double expression over exact operands (adj4/1e4 then
    /gap_sec), rounded 4dp — identical IEEE in any engine. ``gap_slots``
    exposes the distance so consumers can cap staleness (Prometheus's
    lookback-window role). ONE series-keyed window Exchange, and the
    observed-only filter runs BEFORE it — gappy series shuffle only
    their observed rows."""
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr, scale4_expr

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    t4 = scale4_expr(F.col(total_col))
    lagged = df.filter(F.col(cnt_col) > 0).select(
        *series_cols,
        bucket_col,
        t4.alias("_t4"),
        F.lag(t4).over(w).alias("_prev4"),
        F.lag(F.col(bucket_col)).over(w).alias("_pb"),
    )
    d4 = F.col("_t4") - F.col("_prev4")
    adj4 = (
        F.when(F.col("_prev4").isNull(), F.lit(None).cast("long"))
        .when(d4 < 0, F.col("_t4"))
        .otherwise(d4)
    )
    gap_sec = (F.col(bucket_col) - F.col("_pb")).cast("double") / F.lit(1e9)
    return lagged.select(
        *series_cols,
        bucket_col,
        (F.col("_t4") / F.lit(10000.0)).alias(total_col),
        (adj4 / F.lit(10000.0)).alias("idelta"),
        round4_expr(adj4.cast("double") / F.lit(10000.0) / gap_sec).alias(
            "irate_per_sec"
        ),
        F.expr(f"({bucket_col} - _pb) div {resolution}").alias("gap_slots"),
    )


def fetch_rule_group(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    rules: "dict[str, dict]",
    resolution: int = 60_000_000_000,
    duration: int = 3_600_000_000_000,
) -> DataFrame:
    """Prometheus RULE-GROUP evaluation end to end in ONE scan: every
    rule is {pattern, threshold, for_slots}, the batch reads the cube
    once through :func:`fetch_multi` (the OR-of-patterns scan; depths
    may mix), and each rule's pending→firing runs are evaluated with
    series_alerts' semantics — the deployment shape the batch fetch
    exists for (a rule group is evaluated every interval; at 100 TB the
    scan is the cost, so N rules must not mean N scans).

    Rule kinds:

    - ABOVE (default): ``{pattern, threshold > 0, for_slots}``. Evaluates
      on the SPARSE frame: an absent slot zero-fills below any positive
      threshold, so run consecutiveness over observed buckets (integer
      gaps-and-islands on slot − rank) equals the dense evaluation —
      validated at construction. Above-only groups plan one window
      Exchange AFTER the breach filter, nothing else.
    - BELOW: ``{pattern, threshold, for_slots, above: False}``. Needs the
      DENSE frame — a missing slot reads as the reference's zero-fill
      (O2) and 0 <= threshold breaches — so the rule's matched series
      densify through fetch's own ``_densify`` (map-side per-epoch slot
      explode, fetch's exact membership rule: a series zero-fills only
      over epochs where it was tracked): ONE extra (query, series, epoch)
      Exchange for the below subset only. Fine print (PromQL parity): the
      series universe is the series OBSERVED in the window — a series
      with ZERO rows in [from_ts, to_ts) contributes no grid rows and
      cannot fire, exactly as a Prometheus ``<`` rule never sees a series
      with no samples in range (per-selector total silence is what ABSENT
      detects; per-series presence tracking would need a registry scan,
      not a window scan). Pinned in tests/test_track_fetch.py.
    - ABSENT: ``{pattern, absent: True, for_slots}`` — PromQL absent():
      fires on runs of slots where NO series matched the pattern at all
      (peak is NULL, series columns NULL). The range's slot spine
      anti-joined against the rule's distinct observed buckets.

    All kinds share the ONE fetch_multi scan (at 100 TB the scan is the
    cost, so N rules must not mean N scans) and one final window +
    run-groupBy. Per-rule constants ride a literal when-chain on the
    ``query`` label (map-side; a rule batch is bounded); thresholds
    compare as scaled longs. Output: (query, f1..fDmax, pending_start,
    firing_start, run_end, n_slots, peak)."""
    kinds, thr4s, fors = _compile_rules(rules)
    rng = _slot_range(from_ts, to_ts, resolution, duration)
    sparse = fetch_multi(
        cube, from_ts, to_ts, {n: r["pattern"] for n, r in rules.items()},
        resolution, duration,
    )
    fcols = S.series_field_cols(sparse.columns)  # the ONE field-col definition

    thr_c = None
    for_c = None
    for name in sorted(rules):
        cnd = F.col("query") == F.lit(name)
        thr_c = (F.when if thr_c is None else thr_c.when)(cnd, F.lit(thr4s[name]).cast("long"))
        for_c = (F.when if for_c is None else for_c.when)(cnd, F.lit(fors[name]).cast("long"))

    by_kind = {k: sorted(n for n in rules if kinds[n] == k) for k in ("above", "below", "absent")}
    t4 = scale4_expr(F.col(S.TOTAL))
    sp = sparse.select("query", *fcols, S.BUCKET, t4.alias("_t4"))
    branches = []
    if by_kind["above"]:
        branches.append(
            sp.filter(F.col("query").isin(by_kind["above"]))
            .withColumn("_thr4", thr_c)
            .filter(F.col("_t4") >= F.col("_thr4"))
            .drop("_thr4")
        )
    if by_kind["below"]:
        # Membership is per-EPOCH, exactly fetch's densify (O2, shared
        # _densify): a series zero-fills only over epochs where it was
        # tracked, and contributes nothing for epochs it never existed in.
        # The groupBy over (query, series, epoch) IS the membership set;
        # NULL deeper field columns group as one key.
        dense = _densify(
            sparse.filter(F.col("query").isin(by_kind["below"])).select(
                "query", *fcols, S.EPOCH, S.BUCKET, t4.alias("_t4")
            ),
            ["query", *fcols, S.EPOCH],
            rng,
            {"_t4": "0L"},
        )
        branches.append(
            dense.withColumn("_thr4", thr_c)
            .filter(F.col("_t4") <= F.col("_thr4"))
            .drop(S.EPOCH, "_thr4")
        )
    if by_kind["absent"]:
        # the range's slot spine per absent rule, anti-joined against the
        # rule's distinct observed buckets
        obs = (
            sparse.filter(F.col("query").isin(by_kind["absent"]))
            .select("query", S.BUCKET)
            .distinct()
        )
        branches.append(
            rng.spine(cube.sparkSession, by_kind["absent"])
            .join(obs, ["query", S.BUCKET], "left_anti")
            .select(
                "query",
                *[F.lit(None).cast("string").alias(c) for c in fcols],
                S.BUCKET,
                F.lit(None).cast("long").alias("_t4"),
            )
        )
    br = functools.reduce(DataFrame.unionByName, branches)
    return _alert_runs(br, ["query", *fcols], S.BUCKET, resolution, for_c)


def _compile_rules(rules: "dict[str, dict]") -> tuple:
    """Validate a rule group: every rule's kind ('above' | 'below' |
    'absent'), threshold as a scaled long and for_slots, plus its pattern
    (compiled here so a bad one fails before any scan). Returns
    (kinds, thr4s, fors), each keyed by rule name."""
    from kadiyadb_spark.functions.num import quantize4

    if not rules:
        raise ValueError("empty rule group")
    thr4s: dict[str, int] = {}
    fors: dict[str, int] = {}
    kinds: dict[str, str] = {}
    for name, r in rules.items():
        if "pattern" not in r:
            raise ValueError(f"rule {name!r}: missing 'pattern'")
        compile_pattern(r["pattern"])
        fs = int(r.get("for_slots", 1))
        if fs < 1:
            raise ValueError(f"rule {name!r}: need for_slots >= 1, got {fs}")
        if r.get("absent", False):
            kinds[name] = "absent"
            thr4s[name] = 0  # unused; keeps the when-chain total
        elif r.get("above", True):
            thr = r["threshold"]
            if thr <= 0:
                raise ValueError(
                    f"rule {name!r}: above-threshold rules need threshold "
                    f"> 0 (sparse-frame contract; got {thr}) — pass "
                    f"above=False for a below rule"
                )
            kinds[name] = "above"
            thr4s[name] = quantize4(thr)
        else:
            # quantize4, not floor(x*1e4+0.5): a NEGATIVE below threshold
            # must round away from zero like the F.round-scaled data
            # (bare floor rounds toward +inf at -.5 ties)
            kinds[name] = "below"
            thr4s[name] = quantize4(r["threshold"])
        fors[name] = fs
    return kinds, thr4s, fors


def series_group_share(
    cube: DataFrame,
    from_ts: int,
    to_ts: int,
    f1_pattern,
    resolution: int = 60_000_000_000,
    duration: "int | None" = None,
) -> DataFrame:
    """PromQL many-to-one vector matching — ``x / on(f1) group_left
    sum by (f1)(x)`` — answered from the cube's WRITE-TIME rollup: the
    denominator is the STORED depth-1 row (reference O1 writes every
    prefix at track time, database.go:66-101 / SURVEY §1.1), never a
    recomputed aggregate. Where series_share normalizes across all
    matching series per slot (one recomputed window sum), this gives
    each depth-2 series its share of its OWN f1 group — "user 7's
    fraction of click traffic this minute" — and the group total costs
    zero compute because the cube already materialized it.

    Physical shape: ONE scan pulls both depths under the f1 predicate
    (depth IN (1,2) + bucket range, all pushed down), one (f1, bucket)-
    keyed window lifts each slot's rollup total onto its depth-2 rows —
    no join, no second scan. Sparse semantics (observed rows only; a
    densified variant is fetch + this window). Exact: both totals are
    scaled longs; the share is ONE long/long double division rounded
    4dp. Write-time-rollup exactness guarantees group_total ==
    sum(children) — pinned in pytest, and the oracle replays via a
    cube1 ⋈ cube2 join."""
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    rng = _slot_range(from_ts, to_ts, resolution, duration)
    # f1-level predicate only: exact / value-set / Re / "*"
    _, preds = compile_pattern([f1_pattern])
    cond = F.expr(f"{S.DEPTH} IN (1, 2) AND {rng.scan_sql()}") & _match_cond(None, preds)
    t4 = scale4_expr(F.col(S.TOTAL))
    base = cube.filter(cond).select(
        S.DEPTH, "f1", "f2", S.BUCKET, t4.alias("_t4")
    )
    w = Window.partitionBy("f1", S.BUCKET)
    g4 = F.max(F.when(F.col(S.DEPTH) == 1, F.col("_t4"))).over(w)
    return (
        base.withColumn("_g4", g4)
        .filter(F.col(S.DEPTH) == 2)
        .select(
            "f1",
            "f2",
            S.BUCKET,
            (F.col("_t4") / F.lit(10000.0)).alias("total"),
            (F.col("_g4") / F.lit(10000.0)).alias("group_total"),
            round4_expr(
                F.when(F.col("_g4") != 0, F.col("_t4") / F.col("_g4"))
            ).alias("group_share"),
        )
    )


def series_clamp(
    df: DataFrame,
    series_cols: list[str],
    lo: float | None = None,
    hi: float | None = None,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """PromQL ``clamp()`` / ``clamp_min()`` / ``clamp_max()`` over a fetch
    frame: per slot, the total clamped into [lo, hi] plus a 0/1 flag per
    bound — the recording-rule guard that caps runaway gauges before a
    dashboard divides by them. Omit a bound for the one-sided forms; like
    PromQL, lo > hi yields an empty result rather than crossed clamps.

    Engine-default-free: totals and bounds scale to exact longs
    (scale4_expr) so least/greatest compare integers, identical at any
    parallelism; pure per-row projection — NO new Exchange on top of the
    fetch."""
    if lo is None and hi is None:
        raise ValueError("series_clamp needs at least one of lo/hi")
    if lo is not None and hi is not None and lo > hi:
        return df.select(
            *series_cols,
            F.col(bucket_col),
            F.col(total_col),
            F.col(total_col).alias("clamped"),
            F.lit(0).cast("long").alias("clamped_low"),
            F.lit(0).cast("long").alias("clamped_high"),
        ).limit(0)
    t4 = scale4_expr(F.col(total_col))
    c4 = t4
    lo4 = int(lo * 10000 + (0.5 if lo >= 0 else -0.5)) if lo is not None else None
    hi4 = int(hi * 10000 + (0.5 if hi >= 0 else -0.5)) if hi is not None else None
    if lo4 is not None:
        c4 = F.greatest(c4, F.lit(lo4).cast("long"))
    if hi4 is not None:
        c4 = F.least(c4, F.lit(hi4).cast("long"))
    return df.select(
        *series_cols,
        F.col(bucket_col),
        F.col(total_col),
        (c4 / F.lit(10000.0)).alias("clamped"),
        (
            (t4 < F.lit(lo4)).cast("long") if lo4 is not None
            else F.lit(0).cast("long")
        ).alias("clamped_low"),
        (
            (t4 > F.lit(hi4)).cast("long") if hi4 is not None
            else F.lit(0).cast("long")
        ).alias("clamped_high"),
    )


def series_backtest(
    df: DataFrame,
    series_cols: list[str],
    period_slots: int,
    bucket_col: str = "bucket",
    total_col: str = "total",
) -> DataFrame:
    """Rolling-origin one-step-ahead forecast BACKTEST per series: every
    slot is predicted by (a) naive carry-forward (y[t-1]) and (b)
    seasonal-naive (y[t-period]), errors folded to per-series MAE — the
    evaluation harness that tells you whether the seasonal model earns
    its keep BEFORE you alert on its residuals (pairs with
    series_seasonal_anomaly, which assumes the answer is yes).

    Exact by construction: totals scale to longs, absolute errors are
    integer |t4 - lag4|, each MAE is floor(sum/n + 0.5) on an exact
    guarded long sum with ONE double division at output, and the winner
    is the INTEGER comparison of the two error sums over the identical
    eval set (ties -> 'naive', the simpler model — stated, not layout
    luck). Slots without both lags (the first period) are excluded from
    BOTH models' sums, so the comparison is apples-to-apples.

    A series too short for even one evaluation (<= period_slots rows) is
    NOT silently dropped (VERDICT r11 item 5 — the silent 0-row mode bit
    the first draft): it comes back as a diagnostic row with n_evals=0,
    NULL MAEs and best_model='insufficient_history', so a mis-sized
    period is visible in the output instead of shrinking it.

    Shape: one series-keyed window Exchange; the per-series fold reuses
    the same clustering (no second shuffle)."""
    if period_slots < 2:
        raise ValueError(f"need period_slots >= 2, got {period_slots}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import guarded_scaled_sum, scale4_expr

    w = Window.partitionBy(*series_cols).orderBy(bucket_col)
    t4 = scale4_expr(F.col(total_col))
    base = df.select(
        *series_cols,
        t4.alias("_t4"),
        F.lag(t4, 1).over(w).alias("_l1"),
        F.lag(t4, period_slots).over(w).alias("_lp"),
    )
    ok = F.col("_l1").isNotNull() & F.col("_lp").isNotNull()
    agg = base.groupBy(*series_cols).agg(
        F.sum(ok.cast("long")).alias("n_evals"),
        guarded_scaled_sum(
            F.when(ok, F.abs(F.col("_t4") - F.col("_l1"))), dp=4
        ).alias("_e1"),
        guarded_scaled_sum(
            F.when(ok, F.abs(F.col("_t4") - F.col("_lp"))), dp=4
        ).alias("_ep"),
    )
    evals = F.col("n_evals") > 0
    return agg.select(
        *series_cols,
        "n_evals",
        F.when(
            evals,
            F.floor(F.col("_e1") / F.col("n_evals") + F.lit(0.5)) / F.lit(1e4),
        ).alias("mae_naive"),
        F.when(
            evals,
            F.floor(F.col("_ep") / F.col("n_evals") + F.lit(0.5)) / F.lit(1e4),
        ).alias("mae_seasonal"),
        F.when(~evals, F.lit("insufficient_history"))
        .when(F.col("_ep") < F.col("_e1"), F.lit("seasonal_naive"))
        .otherwise(F.lit("naive"))
        .alias("best_model"),
    )
