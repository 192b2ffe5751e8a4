"""O1/O3 — Track: events -> pre-aggregated cube with write-time prefix rollup.

Reference semantics (SURVEY §2 O1, epoch/epoch.go:66-80): Track(ts, fields,
total, count) adds (total, count) into the Point at slot floor((ts-ets)/res)
for EVERY prefix fields[:i], i=1..len(fields). A batch of Track calls is
therefore exactly:

    explode each event into its path prefixes  (depth x fan-out, map-side)
    groupBy (epoch, bucket, f1..fN, depth)     (ONE shuffle, partial agg
    agg sum(total), sum(count)                  map-side combine for free)

Scale notes: the prefix fan-out happens in the same projection that computes
the bucket, so whole-stage codegen keeps it JVM-side; the single shuffle is
keyed by the full group key so cardinality = #series-prefixes x #buckets —
the cube is the *aggregate*, orders of magnitude smaller than raw events at
100 TB. No UDFs anywhere on this path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kadiyadb_spark import schema as S
from kadiyadb_spark.functions.num import (
    CUBE_DP,
    FOLD_EXACT_BOUND,
    exact_fold_expr,
    guarded_scaled_sum,
)

# Values the reference forbids as stored field values (index/node.go:200-214).
ILLEGAL_FIELD_VALUES = ("", "*")


def bucket_expr(ts: Column, resolution: int) -> Column:
    """O3 split: ts -> slot start (database.go:267-277). Floor division; the
    reference clamps ts < resolution to slot 0, which floor gives us for
    non-negative ts."""
    return (ts - (ts % F.lit(resolution))).cast("long")


def epoch_expr(bucket: Column, duration: int) -> Column:
    return (bucket - (bucket % F.lit(duration))).cast("long")


def field_illegal(c: Column) -> Column:
    """THE per-field legality rule (null / "" / "*", index/node.go:200-214)
    — single source shared by the drop path (validate_fields_df) and its
    observability twin (track_rejects), so the pytest-pinned complement
    invariant cannot drift between two hand-inverted copies (code-review
    r12)."""
    return c.isNull() | c.isin(*ILLEGAL_FIELD_VALUES)


def value_illegal(c: Column, dp: int) -> Column:
    """Poison-value rule for total/count columns (code-review r12): NULL
    (would half-count — cnt increments, total contributes nothing, and an
    all-null group stores a schema-violating NULL total), NaN/±Inf (under
    ANSI the scaled cast ABORTS the whole job — one poison row must not
    kill a 100 TB ingest), and magnitudes whose scaled form on the ``dp``
    grid (``CUBE_DP`` for totals, 0 for counts) exceeds the EXACT-FOLD
    bound 2^53 (VERDICT r12 item 2: the
    r12 bound was long-cast safety, 9.2e18/10^dp, which left a ~1000x band
    of values that validated cleanly and then aborted the whole job inside
    ``guarded_scaled_sum`` — the exact one-poison-row failure this rule
    exists to close). A single validated row now survives every exact fold
    by construction; only a GROUP whose combined total passes 2^53 can
    still abort, which is the documented fold-overflow contract (split the
    group), not a data-quality case."""
    c = c.cast("double")
    bound = F.lit(FOLD_EXACT_BOUND / 10**dp)
    return c.isNull() | F.isnan(c) | (F.abs(c) == float("inf")) | (F.abs(c) > bound)


def validate_fields_df(df: DataFrame, fields: list[str]) -> DataFrame:
    """Reject rows carrying illegal stored field values ("" / "*" / null),
    mirroring index/node.go:200-214. Returns the filtered DataFrame; callers
    that want hard failure can compare counts."""
    cond = F.lit(True)
    for f in fields:
        cond = cond & ~field_illegal(F.col(f).cast("string"))
    return df.filter(cond)


def _prefix_fanout(
    df: DataFrame, carry: dict[str, Column], fields: list[Column], depths
) -> DataFrame:
    """THE prefix fan-out (reference write-time rollup, epoch/epoch.go:66-80):
    one output row per input row and depth ``d`` in ``depths``, holding the
    ``carry`` columns, the first ``d`` of ``fields`` as f1..fd with the rest
    null, and ``depth`` = d. Shared by both Track paths, ``Database.forget``'s
    re-fold and ``query.rollup_at_read``. One struct per depth; explode fans
    out in the same codegen stage as the projection feeding it."""
    n = len(fields)
    fcols = S.field_cols(n)
    prefixes = F.array(
        *[
            F.struct(
                F.lit(d).alias(S.DEPTH),
                *[
                    (fields[j] if j < d else F.lit(None).cast("string")).alias(fcols[j])
                    for j in range(n)
                ],
            )
            for d in depths
        ]
    )
    return df.select(
        *[c.alias(k) for k, c in carry.items()], F.explode(prefixes).alias("_p")
    ).select(
        *carry,
        *[F.col(f"_p.{c}").alias(c) for c in fcols],
        F.col(f"_p.{S.DEPTH}").cast("int").alias(S.DEPTH),
    )


def _track_rows(
    df: DataFrame,
    fields: list[str],
    ts_col: str = "ts",
    total_col: str = "value",
    count_col: str | None = None,
    rollup: bool = True,
) -> DataFrame:
    """The one event -> cube-row transform behind every Track path (batch
    ``track_batch`` and the windowed streaming sinks): drop illegal fields
    and poison values, normalize event time and apply the ErrInvTime guard,
    quantize (total, count), fan out the path prefixes. Returns one row per
    (event, prefix) with columns ``_ts`` (long ns), f1..fN, depth, ``_t``,
    ``_c``; callers group them with ``_ingest_aggs``. Parameters as in
    ``track_batch``."""
    n = len(fields)
    if n == 0:
        raise ValueError("need at least one field column")
    df = validate_fields_df(df, fields)
    # poison-value rows reject like illegal fields (code-review r12):
    # NULL half-counts, NaN/Inf/out-of-grid aborts the scaled cast —
    # track_rejects surfaces them with per-reason labels
    df = df.filter(~value_illegal(F.col(total_col), CUBE_DP))
    if count_col is not None:
        # counts are INTEGERS (reference Point.Count, block/blockrw.go)
        # and fold at dp=0, so their grid bound is 2^53 flat
        df = df.filter(~value_illegal(F.col(count_col), 0))

    # Event-time boundary: accept long-ns, TIMESTAMP, TIMESTAMP_NTZ, DATE or
    # ISO string input and emit long-ns (schema.ts_ns_expr) — the engine
    # convention. Filter on the CONVERTED expression: NULL event time is
    # unrepresentable in the reference (uint64 ts) and has no position on
    # the time axis, and an unparseable string normalizes to NULL — both
    # are dropped here rather than becoming a poison null-bucket series or
    # tripping the negative-ts assert with a misleading message (the
    # negative-ts case below still aborts — a bad clock is a pipeline bug,
    # a null/unparseable value is missing data).
    ts = S.ts_ns_expr(df.schema[ts_col].dataType, ts_col)
    df = df.filter(ts.isNotNull())
    # ErrInvTime guard (database.go:156-158, 190-193): negative ts would
    # silently floor into negative buckets (or, streaming, a misaligned
    # window); raise at execution instead.
    # r13 optimization (guide §1.2 per-task work): the guard is a FILTER
    # conjunct, not a wrapper on the ts VALUE. The old form
    # ``ts + coalesce(assert_true(...), 0)`` was inlined by project
    # collapse into every downstream bucket/epoch/range expression — the
    # fetch entries' plans carried ~14 copies of the full
    # raise_error/coalesce tree per Filter, bloating optimizer time,
    # generated code and per-row work. As a filter it is evaluated once
    # per row; coalesce(ts >= 0, true) keeps it null-safe so optimizer
    # conjunct reordering can never make a null-ts row (dropped by the
    # filter above) trip the assert. assert_true is NULL on pass, so
    # coalesce(.., true) is the pass-through; a negative ts still aborts
    # the job with the same ErrInvTime message.
    df = df.filter(
        F.coalesce(
            F.assert_true(
                F.coalesce(ts >= 0, F.lit(True)),
                F.concat(
                    F.lit("ErrInvTime: negative timestamp "), ts.cast("string")
                ),
            ).cast("boolean"),
            F.lit(True),
        )
    )
    total = F.round(F.col(total_col).cast("double") * 10**CUBE_DP).cast("long")
    # counts quantize at dp=0 (integers, like the reference's Point.Count)
    # — VERDICT r12 item 2: scaling them by 10^dp burned 10^dp of the 2^53
    # exact-fold headroom for nothing, so a group with cnt past 2^53/10^dp
    # ingested cleanly and aborted at its first compact/merge re-fold
    cnt = (
        F.lit(1).cast("long")
        if count_col is None
        else F.round(F.col(count_col).cast("double")).cast("long")
    )
    return _prefix_fanout(
        df,
        {"_ts": ts, "_t": total, "_c": cnt},
        [F.col(f).cast("string") for f in fields],
        range(1, n + 1) if rollup else [n],
    )


def _ingest_aggs() -> list[Column]:
    """The (total, cnt) aggregates over ``_track_rows``' quantized ``_t`` /
    ``_c`` — one definition for the batch groupBy and the streaming window
    state, so stream and batch fold the same exact scaled longs regardless
    of micro-batch boundaries or state-merge order."""
    return [
        # guarded: decimal(38,0) accumulation (no 2^63 wrap) + hard error
        # past 2^53, where the stored double would silently stop being an
        # exact dp-multiple
        (guarded_scaled_sum(F.col("_t"), CUBE_DP) / F.lit(float(10**CUBE_DP)))
        .cast("double")
        .alias(S.TOTAL),
        # counts are plain longs at dp=0 either way (1s for count_col=None,
        # round(count) otherwise) — full 2^53 headroom, no divide-back
        guarded_scaled_sum(F.col("_c"), 0).cast("double").alias(S.CNT),
    ]


def track_batch(
    df: DataFrame,
    fields: list[str],
    ts_col: str = "ts",
    total_col: str = "value",
    count_col: str | None = None,
    resolution: int = 60_000_000_000,
    duration: int = 3_600_000_000_000,
    rollup: bool = True,
) -> DataFrame:
    """Aggregate an events DataFrame into the kadiyadb cube.

    ``fields`` are the source columns forming the ordered field path (cast to
    string). ``count_col=None`` counts 1 per row (the Track(v, 1) pattern).
    ``rollup=True`` materializes every path prefix (reference write-time
    rollup); ``rollup=False`` stores only full-depth series (cheaper writes;
    query-time rollup can reconstruct prefixes — property-tested equal).

    The (total, count) folds are ORDER-INDEPENDENT on the cube's one value
    grid (``num.CUBE_DP`` = 4 decimals): each value scales to its exact
    integer (``round(v*10^4)`` as long), longs sum associatively —
    identical at ANY parallelism and in any engine — and ONE final division
    restores the double. The stored total is then the exact 4dp-multiple,
    so every later re-fold (segment merge, compact, rollup read) recovers
    the same integers and the whole LSM pipeline is exact end-to-end, where
    the reference's float64 adds (epoch/epoch.go:66-80) depend on order: a
    partition-layout change can flip the 4th decimal of a round4'd total
    (the r06 ``pipeline_quality`` gate class). Inputs with MORE than 4 true
    decimals are quantized at ingest. Counts quantize and fold at dp=0
    (integers, like the reference's Point.Count) — the full 2^53
    exact-fold headroom. Exact-fold bound: |v| <= 1e5 leaves ~9e6 rows per
    (series, slot) before the 2^53 guard trips; beyond that scale, split
    the group.

    Rows carrying illegal field values (""/"*"/null) or poison values are
    always dropped, as the reference rejects ""/"*" on every write with no
    switch (index/node.go:200-214); ``track_rejects`` reports exactly those
    rows. The per-call error of the reference maps to row rejection in a
    batch engine (aborting a 100 TB job for one poison row is not a useful
    parity). Negative timestamps DO abort (ErrInvTime,
    database.go:156-158): a bad clock is a pipeline bug, not a
    data-quality case.

    Returns a DataFrame with schema ``cube_schema(len(fields))``: the
    ``_track_rows`` core grouped by (epoch, bucket, f1..fN, depth) — ONE
    shuffle, with map-side partial aggregation.
    """
    rows = _track_rows(df, fields, ts_col, total_col, count_col, rollup)
    bucket = bucket_expr(F.col("_ts"), resolution)
    fcols = S.field_cols(len(fields))
    return (
        rows.select(
            epoch_expr(bucket, duration).alias(S.EPOCH),
            bucket.alias(S.BUCKET),
            *fcols,
            S.DEPTH,
            "_t",
            "_c",
        )
        .groupBy(S.EPOCH, S.BUCKET, *fcols, S.DEPTH)
        .agg(*_ingest_aggs())
    )


def fold_aggs() -> list[Column]:
    """The (total, cnt) aggregate pair every STORED-cube fold uses — segment
    merge, compact, read-time fold, rollup read: exact scaled-long folds on
    the ``CUBE_DP`` grid (stored doubles are exact 4dp-multiples, so
    ``round(v*10^4)`` recovers the integer losslessly up to 2^53/10^4 and
    the fold is order-independent)."""
    return [
        exact_fold_expr(F.col(S.TOTAL), CUBE_DP).alias(S.TOTAL),
        # counts are INTEGER doubles (ingest quantizes at dp=0), so they
        # re-fold at dp=0 — re-folding at 4dp burned 10^4 of the 2^53
        # guard headroom, aborting compact/merge for groups whose cnt had
        # ingested cleanly (VERDICT r12 item 2 / SURVEY §19.4 defer)
        exact_fold_expr(F.col(S.CNT), 0).alias(S.CNT),
    ]


def track_rejects(
    df: DataFrame,
    fields: list[str],
    ts_col: str = "ts",
    total_col: str = "value",
    count_col: str | None = None,
) -> DataFrame:
    """DEAD-LETTER view of a track batch: exactly the rows ``track_batch``
    drops, each with a ``reject_reason`` — the observability half of the
    row-rejection policy (at 100 TB a pipeline must SEE what it lost;
    "skip" without a census is how a feed dies quietly). Reasons, first
    match wins (deterministic order: the event-time check, then fields in
    the caller's order, then total, then count):

      - ``null_ts``           null / unparseable event time (ts_ns_expr
                              normalizes bad ISO strings to null)
      - ``illegal_field:<f>`` the reference's forbidden stored values
                              (""/"*", index/node.go:200-214) or null
      - ``illegal_value:<c>`` poison total/count: NULL (would half-count),
                              NaN/±Inf, or off the scaled-long grid
                              (would abort the ANSI cast) — code-review
                              r12, same rule as track_batch's filter

    ``total_col``/``count_col`` MUST mirror the
    ``track_batch`` call this feed shadows; a frame without ``total_col``
    raises, because its twin could not aggregate it either.

    The complement invariant — rejects + rows track_batch aggregates =
    the input, with no overlap — is pytest-pinned. Pure map-side filter:
    no shuffle, streams at scan speed; write the result next to the cube
    commit for a crash-safe quarantine feed."""
    n = len(fields)
    if n == 0:
        raise ValueError("need at least one field column")
    if total_col not in df.columns:
        raise ValueError(
            f"track_rejects needs the {total_col!r} column its track_batch "
            f"twin aggregates (pass total_col=)"
        )
    tsn = S.ts_ns_expr(df.schema[ts_col].dataType, ts_col)
    reason = F.when(tsn.isNull(), F.lit("null_ts"))
    for f in fields:
        reason = reason.when(
            field_illegal(F.col(f).cast("string")), F.lit(f"illegal_field:{f}")
        )
    reason = reason.when(
        value_illegal(F.col(total_col), CUBE_DP), F.lit(f"illegal_value:{total_col}")
    )
    if count_col is not None:
        # same dp=0 count bound as track_batch's filter
        reason = reason.when(
            value_illegal(F.col(count_col), 0),
            F.lit(f"illegal_value:{count_col}"),
        )
    return df.withColumn("reject_reason", reason).filter(
        F.col("reject_reason").isNotNull()
    )
