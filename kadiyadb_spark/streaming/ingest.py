"""O1 streaming form — Structured Streaming ingestion into the cube.

The reference's write path is synchronous Track() calls into mmap'd epochs
(SURVEY §3.1). The Spark-native equivalent is a stream of events micro-batched
into the persisted cube. Three cube sinks, each exactly-once via
checkpointing plus the manifest commit:

1. ``stream_track_raw`` — foreachBatch over the RAW event stream; each
   micro-batch runs batch Track (``Database.track_stream_batch``) and
   commits its segment with the stream's batch high-water mark.
   Faithful to reference increments; supports arbitrarily late data (the
   reference accepts any timestamp within retention via RO->RW promotion,
   epoch/cache.go:94-132).

2. ``stream_track_agg`` — watermark + windowed aggregation in update mode;
   each micro-batch emits the *cumulative* (total, cnt) per (window,
   fields) group, which is REPLACE-merged into the cube
   (``Database.merge_replace``). State bounded by the watermark; late data
   beyond it is dropped (a documented divergence from the reference, which
   has no watermark concept).

3. ``stream_track_agg_append`` — the same windowed aggregation in append
   mode; each group is emitted once, when the watermark closes its window,
   and committed as a pure segment append (``Database.commit_cube_batch``).

All three share batch Track's event -> cube-row core
(``ingest._track_rows``, so they drop exactly the rows ``track_rejects``
reports) and fold (``ingest._ingest_aggs``); the windowed two differ from
batch only in grouping by a watermarked event-time window. Every sink
starts through one foreachBatch starter (``_start``).
Each micro-batch shuffles once keyed by the cube key; only epochs present
in the batch are touched. On a real cluster the source would be Kafka;
tests use the file source with Trigger.AvailableNow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kadiyadb_spark import schema as S
from kadiyadb_spark.database import Database
from kadiyadb_spark.ingest import _ingest_aggs, _track_rows, epoch_expr


def _start(
    df: DataFrame,
    sink,
    checkpoint: str,
    trigger_available_now: bool,
    output_mode: str = "append",
) -> StreamingQuery:
    """THE streaming-sink starter: run ``sink(batch, batch_id)`` through
    foreachBatch on every micro-batch of ``df`` in ``output_mode``,
    checkpointed at ``checkpoint``, draining with ``availableNow`` when
    ``trigger_available_now`` (else the default processing-time trigger)."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_track_raw(
    events: DataFrame,
    db: Database,
    checkpoint: str,
    ts_col: str = "ts",
    total_col: str = "value",
    count_col: str | None = None,
    trigger_available_now: bool = True,
    stream_id: str = "raw",
    rejects_dir: str | None = None,
) -> StreamingQuery:
    """Increment-merge every micro-batch of raw events into ``db``.

    Idempotent under micro-batch replay: Database.track_stream_batch keeps an
    applied-batch high-water mark beside the cube, so a batch re-run after a
    sink failure or checkpoint restart is a no-op instead of a double-count.
    ``stream_id`` names the mark; use distinct ids for distinct streams into
    the same database.

    ``rejects_dir``: optional DEAD-LETTER quarantine — each micro-batch's
    dropped rows (ingest.track_rejects: null/unparseable event time,
    forbidden field values, poison values) land under ``rejects_dir/batch=<id>`` with the
    batch id stamped, OVERWRITE mode per batch directory, so a replayed
    batch rewrites identical content instead of duplicating it (the
    side-feed analog of the hwm idempotence; read the feed with
    ``read_stream_rejects``). At 100 TB "skip" without a census is how a
    feed dies quietly — this is the streaming half of that census."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if rejects_dir is not None:
            from kadiyadb_spark.ingest import track_rejects

            from kadiyadb_spark.fs import HadoopFS as _HFS

            track_rejects(
                batch,
                list(db.params.fields),
                ts_col=ts_col,
                total_col=total_col,
                count_col=count_col,
            ).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("overwrite").parquet(
                _HFS.join(rejects_dir, f"batch={batch_id}")
            )
        db.track_stream_batch(
            batch, batch_id, stream_id=stream_id, ts_col=ts_col, total_col=total_col, count_col=count_col
        )

    return _start(events, _merge, checkpoint, trigger_available_now)



def stream_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon — the Structured Streaming form of exact dedup for
    at-least-once sources (Kafka redelivers on rebalance; file sources
    re-list on restart). State is one entry per key seen, EVICTED once the
    watermark passes it, so memory is bounded by keys-per-horizon rather
    than stream length. Compose upstream of stream_track_raw/agg for
    exactly-once ingestion from an at-least-once source.

    ``ts_col`` may be long-ns (engine convention) or a timestamp type —
    normalized at the boundary (schema.ts_ns_expr), then truncated to µs
    event time like the other streaming paths."""
    ts = S.ts_ns_expr(events.schema[ts_col].dataType, ts_col)
    # null/unparseable event time has no place on the watermark axis: filter
    # on the CONVERTED expression so string inputs that fail to parse are
    # dropped too, not turned into null _event_time rows (see track_batch)
    events = events.filter(ts.isNotNull())
    evt = events.withColumn("_event_time", F.timestamp_micros(S.ts_us_expr(ts)))
    return (
        evt.withWatermark("_event_time", watermark)
        .dropDuplicatesWithinWatermark(key_cols)
        .drop("_event_time")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    lookback: str = "30 minutes",
    watermark: str = "10 minutes",
    right_suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event matched to right events
    sharing ``key_cols`` whose event time falls in
    [left_ts - lookback, left_ts] — the attribution join (purchase <- the
    clicks that preceded it) every event pipeline needs.

    Structured Streaming's stateful symmetric hash join does this with
    BOUNDED state: both sides are watermarked and the interval condition
    lets the engine compute a state watermark, so buffered rows are evicted
    once they can no longer match anything (state ~ rows-per-(watermark +
    lookback) per key, never stream length). The join itself shuffles both
    streams once, keyed by ``key_cols`` — the same partitioning the state
    store uses, so matching is partition-local forever after.

    Right-side columns are suffixed with ``right_suffix`` (both sides'
    ``ts_col`` pass through in their source type); the internal event-time
    columns are dropped from the output. ``ts_col`` may be long-ns or any
    timestamp type on either side (normalized at the boundary, like every
    other streaming path).

    ``how='left_outer'`` emits each unmatched left row (right columns
    null) — but only once the watermark proves no matching right row can
    still arrive, which in micro-batch terms means ON A LATER BATCH after
    event time has advanced past the row's eligibility window. A drained
    availableNow run therefore holds back unmatched rows from the final
    batch — the documented Structured Streaming outer-join contract, not a
    bug in this operator."""
    lt = S.ts_ns_expr(left.schema[ts_col].dataType, ts_col)
    rt = S.ts_ns_expr(right.schema[ts_col].dataType, ts_col)
    lhs = left.filter(lt.isNotNull()).withColumn(
        "_lt", F.timestamp_micros(S.ts_us_expr(lt))
    )
    rhs = right.filter(rt.isNotNull()).withColumn(
        "_rt", F.timestamp_micros(S.ts_us_expr(rt))
    )
    rhs = rhs.select(
        [F.col(c).alias(c + right_suffix) for c in right.columns] + [F.col("_rt")]
    )
    cond = None
    for k in key_cols:
        eq = lhs[k] == rhs[k + right_suffix]
        cond = eq if cond is None else (cond & eq)
    cond = (
        cond
        & (F.col("_rt") >= F.col("_lt") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("_rt") <= F.col("_lt"))
    )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    joined = lhs.withWatermark("_lt", watermark).join(
        rhs.withWatermark("_rt", watermark), cond, how
    )
    return joined.drop("_lt", "_rt")


def _windowed_cube_delta(
    events: DataFrame,
    db: Database,
    ts_col: str,
    total_col: str,
    count_col: str | None,
    watermark: str,
) -> DataFrame:
    """Shared core of both windowed-aggregation strategies: batch Track's
    event -> cube-row transform (``ingest._track_rows``: validation, ErrInvTime
    guard, quantization, prefix fan-out) and fold (``ingest._ingest_aggs``),
    grouped by a watermarked per-resolution event-time window instead of the
    bucket — so stream and batch reject the same rows and fold the same exact
    scaled longs. Emits cube-shaped rows (epoch, bucket, f1..fN, depth, total,
    cnt)."""
    p = db.params
    if not p.fields:
        raise ValueError("database params must declare fields for streaming ingest")
    # Express the window in MICROseconds: integer-dividing by 1e9 silently
    # turns any sub-second resolution into "0 seconds" (params accept ms/us/ns
    # durations). Timestamps are µs precision, so require µs granularity.
    if p.resolution % 1_000 != 0:
        raise ValueError(
            f"windowed streaming ingest requires resolution in whole "
            f"microseconds (timestamps are µs precision); got {p.resolution} ns"
        )
    fcols = S.field_cols(len(p.fields))
    rows = _track_rows(events, list(p.fields), ts_col, total_col, count_col)
    # Watermarks need a TimestampType column; ns -> micros loses nothing at
    # our resolutions (resolution >= 1us).
    evt = rows.withColumn(
        "_event_time", F.timestamp_micros(S.ts_us_expr(F.col("_ts")))
    ).withWatermark("_event_time", watermark)
    win = F.window("_event_time", f"{p.resolution // 1_000} microseconds")
    agg = evt.groupBy(win.alias("_w"), *fcols, S.DEPTH).agg(*_ingest_aggs())
    bucket = F.unix_micros(F.col("_w.start")) * 1000
    return agg.select(
        epoch_expr(bucket, p.duration).alias(S.EPOCH),
        bucket.alias(S.BUCKET),
        *fcols,
        S.DEPTH,
        S.TOTAL,
        S.CNT,
    )


def stream_track_agg(
    events: DataFrame,
    db: Database,
    checkpoint: str,
    ts_col: str = "ts",
    total_col: str = "value",
    count_col: str | None = None,
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Watermarked windowed aggregation (update mode) + replace-merge.

    The streaming agg state holds running (total, cnt) per (bucket, path
    prefix); each micro-batch emits only updated groups, whose values are
    cumulative — so the sink REPLACES matched cube rows instead of adding.
    Results become visible per micro-batch (low read latency) at the cost
    of rewriting touched epochs each batch; see stream_track_agg_append for
    the rewrite-free trade.
    """
    delta = _windowed_cube_delta(events, db, ts_col, total_col, count_col, watermark)

    def _replace(batch: DataFrame, batch_id: int) -> None:
        db.merge_replace(batch)

    return _start(delta, _replace, checkpoint, trigger_available_now, "update")


def stream_track_agg_append(
    events: DataFrame,
    db: Database,
    checkpoint: str,
    ts_col: str = "ts",
    total_col: str = "value",
    count_col: str | None = None,
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
    stream_id: str = "agg_append",
) -> StreamingQuery:
    """Strategy 3 — watermarked windowed aggregation in APPEND mode: the
    engine emits each (bucket, path prefix) group EXACTLY ONCE, when the
    watermark passes its window end, and the sink commits those final rows
    via the atomic segment+hwm manifest swap (Database.commit_cube_batch).

    This is the boundedest of the three ingest strategies and the idiomatic
    Spark shape for continuous rollup at scale: state is evicted as windows
    close (memory ∝ windows per watermark horizon), the sink never reads or
    rewrites existing data (no merge, no epoch rewrite — pure append, cost
    ∝ closed windows per batch), and replay is exactly-once through the
    manifest hwm. The trade: results for a bucket appear only after the
    watermark passes it (availability lags by the out-of-orderness bound),
    and events later than the watermark are DROPPED — the reference instead
    accepts any timestamp within retention (epoch/cache.go:94-132), which
    is what stream_track_raw preserves. Pick per use: raw = any-lateness
    increments, update = low-latency cumulative, append = bounded-state
    finalized rollup."""
    delta = _windowed_cube_delta(events, db, ts_col, total_col, count_col, watermark)

    def _append(batch: DataFrame, batch_id: int) -> None:
        db.commit_cube_batch(batch, batch_id, stream_id=stream_id)

    return _start(delta, _append, checkpoint, trigger_available_now)


def stream_index_dedup(
    docs: DataFrame,
    index,
    decisions_dir: str,
    checkpoint: str,
    min_est: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Continuous-ingest near-dup gate: probe each incoming micro-batch of
    documents against a persisted ``MinHashIndex``, append the per-doc
    decision (accepted, n_dups) to ``decisions_dir``, and ``add`` the
    accepted docs to the index so the NEXT batch is checked against them —
    the streaming closure of dedup_index_query/add (a batch pipeline that
    probes but never feeds accepted docs back misses batch-to-batch dups).

    Semantics: a doc is rejected iff the index holds a previously-ACCEPTED
    doc with signature-agreement estimate >= ``min_est``. Docs within one
    micro-batch are NOT checked against each other (they carry no order);
    run the batch near-dup sweep inside the batch first if that matters.

    Scale shape per batch: the batch's banded signatures are computed ONCE
    and persisted (``MinHashIndex.banded_of``) — they feed both the probe
    (broadcast against the partitioned index scan, ``query_banded``) and
    the accepted-survivor ingest (``add_banded`` — LSM append into touched
    band partitions, cost proportional to the batch). The text is shingled
    exactly once per batch.

    EXACTLY-ONCE decisions: the decisions dir is a manifest-committed
    segment log (manifest.GenLog — the same atomic-generation protocol as
    Database.commit_cube_batch). Each batch stages its decision rows as an
    invisible segment, then one atomic manifest swap publishes the segment
    ref AND the batch high-water mark together — a replayed batch is a
    no-op, and ``read_decisions`` resolves only committed segments, so the
    audit record can never double-count. The index feedback is tracked by a
    SECOND mark (``add_hwm``) committed after the add: a crash between the
    two replays the add from the COMMITTED decisions (deterministic
    accepted set), so the index is at-least-once — duplicate index rows are
    harmless (query's candidate distinct; compact drops them physically) —
    while the decisions stay exactly-once. Periodically ``index.compact()``
    to fold the appended files.

    ``id_col`` must equal the index's own id column: the probe and the
    feedback join key on ``index.id_col``, so a mismatch would silently
    accept everything with an audit trail claiming it was checked
    (review finding) — validated here instead.
    """
    from kadiyadb_spark.fs import HadoopFS
    from kadiyadb_spark.manifest import GenLog

    if id_col != index.id_col:
        raise ValueError(
            f"id_col {id_col!r} must match the index's id column "
            f"{index.id_col!r} — the probe and feedback joins key on it"
        )

    def _decisions_of(banded_batch: DataFrame, ids: DataFrame) -> DataFrame:
        matches = index.query_banded(banded_batch, min_est=min_est)
        per_doc = matches.groupBy("new_id").agg(
            F.count("*").cast("long").alias("n_dups")
        )
        return (
            ids.join(per_doc, F.col(id_col) == F.col("new_id"), "left")
            .select(
                id_col,
                F.when(F.col("n_dups").isNull(), F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("accepted"),
                F.coalesce(F.col("n_dups"), F.lit(0)).cast("long").alias("n_dups"),
            )
        )

    log = GenLog(docs.sparkSession, decisions_dir)

    def _gate(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        m = log.read()
        hwm = int(m.get("hwm", -1))
        add_hwm = int(m.get("add_hwm", -1))
        if batch_id <= add_hwm:
            return  # fully applied: replay is a no-op
        # A file-source micro-batch arrives as ONE scan partition per file
        # (maxFilesPerTrigger=1 -> 1 partition), which serializes the
        # whole shingle+minhash pass onto one core — measured 36 s of the
        # entry's 52 s at sf1 (guide §2.5 input skew: repartition right
        # after the read). spread() never shrinks, so an already-wide
        # batch is untouched.
        from kadiyadb_spark.session import spread

        banded = index.banded_of(spread(batch), text_col=text_col).persist()
        decided = None  # bound before the try: a recovery-path failure must
        # surface ITS error, not an UnboundLocalError from the finally
        try:
            if batch_id <= hwm:
                # decisions committed, index feedback not marked: re-derive
                # the accepted set from the COMMITTED segment (deterministic
                # — NOT from a re-probe, which would now see this batch's
                # own rows in the index) and finish the add.
                ref = next(s["ref"] for s in m.get("segments", []) if s["batch"] == batch_id)
                decided = spark.read.parquet(HadoopFS.join(decisions_dir, ref))
            else:
                ref = f"seg-{batch_id:012d}"
                decided = _decisions_of(banded, batch.select(id_col)).persist()
                # stage (invisible; a crashed earlier attempt is overwritten)
                decided.write.mode("overwrite").parquet(
                    HadoopFS.join(decisions_dir, ref)
                )
                # the atomic commit: segment ref + hwm in one generation swap
                m["segments"] = [*m.get("segments", []), {"batch": batch_id, "ref": ref}]
                m["hwm"] = batch_id
                log.commit(m, m["gen"])
                # the persisted frame IS what was just committed (the write
                # materialized it), so feed the add from memory instead of
                # re-reading the segment — one fewer job per batch
            accepted_ids = decided.filter(F.col("accepted") == 1).select(
                F.col(id_col).alias("_aid")
            )
            index.add_banded(
                banded.join(
                    F.broadcast(accepted_ids), banded[index.id_col] == F.col("_aid")
                ).drop("_aid")
            )
            m2 = log.read()
            m2["add_hwm"] = batch_id
            log.commit(m2, m2["gen"])
        finally:
            if decided is not None and decided.is_cached:
                decided.unpersist()
            banded.unpersist()

    return _start(docs, _gate, checkpoint, trigger_available_now)


def _segment_refs(m: dict) -> list[str]:
    """Segment refs a decisions/alerts log manifest names."""
    return [s["ref"] for s in m.get("segments", [])]


def compact_decisions(spark, decisions_dir: str) -> None:
    """Fold a ``stream_index_dedup`` decisions log: one segment accrues per
    micro-batch, and a long-running stream leaves thousands of small
    parquet directories behind. Rewrite all committed segments as ONE
    folded segment and commit a manifest referencing only it (hwm/add_hwm
    carried over, so replay semantics are untouched), then GC the old
    segment dirs. Same single-writer maintenance contract as
    ``MinHashIndex.compact`` — run it from the maintenance cadence, not
    inside the stream."""
    from kadiyadb_spark.fs import HadoopFS
    from kadiyadb_spark.manifest import GenLog

    log = GenLog(spark, decisions_dir)
    m = log.read()
    segs = m.get("segments", [])
    if len(segs) <= 1:
        return
    if int(m.get("hwm", -1)) != int(m.get("add_hwm", -1)):
        # A batch is mid-window (decisions committed, index add pending):
        # its crash-recovery reads its PER-BATCH segment ref, which folding
        # would destroy. Compact only at quiescence.
        raise RuntimeError(
            f"decisions log has an in-flight batch (hwm={m.get('hwm')}, "
            f"add_hwm={m.get('add_hwm')}); compact after the stream settles"
        )
    refs = [HadoopFS.join(decisions_dir, s["ref"]) for s in segs]
    folded = f"seg-folded-g{m['gen'] + 1:06d}"
    # No coalesce: a long-lived log is corpus-sized; keep the write parallel
    # (AQE sizes the output files from the scan's partitioning).
    spark.read.parquet(*refs).write.mode("overwrite").parquet(
        HadoopFS.join(decisions_dir, folded)
    )
    hi = max(int(s["batch"]) for s in segs)
    m["segments"] = [{"batch": hi, "ref": folded}]
    log.commit(m, m["gen"])
    # GC keeps every segment a RETAINED manifest still references (GenLog
    # keep=3), so a read_decisions(at_gen=...) pinned before the fold — or
    # an unpinned reader that resolved the pre-fold manifest — keeps its
    # segments through the swap (same contract as the index GCs).

    def _staged(name: str) -> bool:
        # Per-batch segments: GC ONLY those the fold actually covered
        # (batch <= hi). A LIVE stream may have STAGED seg-<batch> for
        # hwm+1 without committing yet — the quiescence check above cannot
        # see pre-commit staging, and deleting it would lose that batch's
        # audit record the moment its manifest commit lands (code-review
        # r12). Old folded segments (seg-folded-*) have no staging race —
        # folds only exist at commit time — so unreferenced ones delete as
        # before; other unparseable seg- names are left alone.
        if name.startswith("seg-folded-"):
            return False
        tail = name[len("seg-"):]
        return not tail.isdigit() or int(tail) > hi

    log.gc(("seg-",), _segment_refs, spare=_staged)


def read_decisions(spark, decisions_dir: str, at_gen: int | None = None) -> DataFrame:
    """Committed view of a ``stream_index_dedup`` decisions log: resolves
    the latest manifest and reads ONLY the referenced segments — staged
    segments from in-flight or crashed batches are invisible, so the audit
    record is exactly-once by construction. ``at_gen`` pins a retained
    manifest generation; compaction's GC keeps every segment a retained
    manifest references, so the pinned view survives a concurrent fold."""
    return _read_log(spark, decisions_dir, at_gen, "decisions")


def _read_log(spark, log_dir: str, at_gen: int | None, what: str) -> DataFrame:
    """The committed rows of a decisions or alerts log: the segments the
    manifest at ``at_gen`` (default the head) references, and nothing
    staged. Raises FileNotFoundError when it references none."""
    from kadiyadb_spark.fs import HadoopFS
    from kadiyadb_spark.manifest import GenLog

    m = GenLog(spark, log_dir).read(at_gen)
    refs = [HadoopFS.join(log_dir, ref) for ref in _segment_refs(m)]
    if not refs:
        raise FileNotFoundError(f"no committed {what} at {log_dir}")
    return spark.read.parquet(*refs)


def stream_alerts(
    events: DataFrame,
    db: Database,
    alerts_dir: str,
    checkpoint: str,
    pattern: list[str],
    threshold: float,
    from_ts: int,
    to_ts: int,
    for_slots: int = 1,
    above: bool = True,
    ts_col: str = "ts",
    total_col: str = "value",
    count_col: str | None = None,
    trigger_available_now: bool = True,
    stream_id: str = "alerts",
    ingest: bool = True,
):
    """Continuous ALERTING-RULE evaluation over streaming ingest — the
    APM deployment mode of ``query.series_alerts``: each micro-batch is
    merged into ``db`` (idempotently, via the track high-water mark),
    then the rule (``threshold`` held ``for_slots`` consecutive slots
    over ``pattern`` within the evaluation window ``[from_ts, to_ts)``)
    is re-evaluated against the cube's NEW state and the alert-state log
    at ``alerts_dir`` is atomically REPLACED — the log always holds the
    rule's current firing runs, the materialized "recording rule".

    Exactly-once STATE: the log is a manifest-committed GenLog whose
    manifest references ONE state segment + the batch high-water mark in
    a single generation swap. A replayed batch is a no-op; a crash
    between the cube merge and the state commit replays into an
    idempotent merge (its own hwm) and a deterministic re-evaluation of
    identical cube state. Because every evaluation runs on the full
    window against the committed cube, the FINAL state after a drain is
    independent of micro-batch boundaries and equals the batch
    ``series_alerts`` over the same data — which is exactly what the
    cross-engine gate asserts.

    Scale shape per batch: one idempotent cube merge (touched epochs
    only) + one windowed rule evaluation (the breach filter precedes the
    window shuffle, so only breaching slots move — series_alerts' plan).
    Replaced state segments are GC'd under the GenLog keep-3 contract, so
    a reader pinned at a retained generation survives the swap.

    MULTIPLE RULES over one Database (review finding): exactly ONE stream
    may ingest. Two default-``stream_id`` ingesting rules collide on one
    cube high-water mark (whichever commits batch N first silently
    no-ops the other's merge), and two distinct-``stream_id`` ingesting
    rules each merge the full event stream (every total double-counts).
    Deploy rule #2..N with ``ingest=False`` (each still needs its OWN
    ``alerts_dir``/``checkpoint``): the batch is NOT merged, only
    evaluated against the cube's committed state. An evaluate-only rule
    can lag the ingesting stream within a drain; its state converges on
    its next evaluation after the final merge (re-trigger for an exact
    final snapshot)."""
    from kadiyadb_spark.fs import HadoopFS
    from kadiyadb_spark.manifest import GenLog
    from kadiyadb_spark.query import series_alerts

    log = GenLog(events.sparkSession, alerts_dir)

    def _eval(batch: DataFrame, batch_id: int) -> None:
        m = log.read()
        if batch_id <= int(m.get("hwm", -1)):
            return  # replay: state already reflects this batch
        if ingest:
            db.track_stream_batch(
                batch, batch_id, stream_id=stream_id,
                ts_col=ts_col, total_col=total_col, count_col=count_col,
            )
        dense = db.fetch(from_ts, to_ts, pattern)
        from kadiyadb_spark.schema import series_field_cols

        series = series_field_cols(dense.columns)
        runs = series_alerts(
            dense.select(*series, "bucket", "total"),
            series,
            threshold=threshold,
            for_slots=for_slots,
            resolution=db.params.resolution,
            above=above,
        )
        ref = f"seg-state-{batch_id:012d}"
        runs.write.mode("overwrite").parquet(HadoopFS.join(alerts_dir, ref))
        m["segments"] = [{"batch": batch_id, "ref": ref}]
        m["hwm"] = batch_id
        log.commit(m, m["gen"])
        # GC superseded state segments not referenced by any RETAINED
        # manifest (same contract as compact_decisions)
        log.gc(("seg-",), _segment_refs)

    return _start(events, _eval, checkpoint, trigger_available_now)


def read_alerts(spark, alerts_dir: str, at_gen: int | None = None) -> DataFrame:
    """Committed view of a ``stream_alerts`` state log: the rule's current
    firing runs as of the last evaluated micro-batch. Staged segments from
    in-flight or crashed batches are invisible (manifest-resolved reads).
    ``at_gen`` pins a retained generation across a concurrent swap."""
    return _read_log(spark, alerts_dir, at_gen, "alert state")


def read_stream_rejects(spark, rejects_dir: str) -> DataFrame:
    """Read the dead-letter quarantine ``stream_track_raw(rejects_dir=...)``
    maintains: every rejected row across batches with its ``reject_reason``
    and ``batch_id`` (a column, not a partition key — the per-batch
    directories exist only for idempotent overwrite)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(rejects_dir)
