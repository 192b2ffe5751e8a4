"""Custom stateful streaming operator (applyInPandasWithState):
event-time session assembly with inactivity gaps, across micro-batches.

With GroupStateTimeout.EventTimeTimeout the emitted session set is a
DETERMINISTIC function of the events: a session (island) is emitted exactly
when the watermark passes session_end + gap — only then can no admitted
future event extend or bridge it. Wall-clock speed of the host can no
longer change the output."""

from pyspark.sql import Row
from pyspark.sql import types as T

from kadiyadb_spark.streaming.stateful import SEC, SESSION_SCHEMA, stream_sessionize

SRC_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

BASE = 1_700_000_000 * SEC
GAP = 60 * SEC


def _write(spark, path, rows):
    spark.createDataFrame(
        [Row(ts=r[0], user_id=r[1], value=float(r[2])) for r in rows], SRC_SCHEMA
    ).write.mode("append").parquet(path)


def _run(spark, src, out, ckpt):
    q = (
        stream_sessionize(spark.readStream.schema(SRC_SCHEMA).parquet(src), gap_ns=GAP)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_sessionize_event_time_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # user 1: two sessions separated by > GAP; user 2: one session.
    batch1 = [
        (BASE, 1, 1.0),
        (BASE + 10 * SEC, 1, 2.0),
        (BASE + 5 * SEC, 2, 7.0),
    ]
    batch2 = [
        (BASE + 200 * SEC, 1, 4.0),  # > GAP after user 1's last -> NEW session
        (BASE + 210 * SEC, 1, 8.0),
    ]
    _write(spark, src, batch1)
    _run(spark, src, out, ckpt)
    # After run 1 the watermark is BASE+10s: neither open session's
    # timeout (end + GAP) has been passed, so NOTHING is emitted yet —
    # closure is event-time-driven, not wall-clock-driven.
    import glob

    emitted_after_1 = (
        spark.read.schema(SESSION_SCHEMA).parquet(out).count()
        if glob.glob(f"{out}/*.parquet")
        else 0
    )
    assert emitted_after_1 == 0

    _write(spark, src, batch2)
    _run(spark, src, out, ckpt)

    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.value_sum)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        # batch2's event arrived past the gap and opened a NEW island;
        # the final watermark (BASE+210s) passed this one's end+GAP
        (1, BASE): (BASE + 10 * SEC, 2, 3.0),
        # closed by the WATERMARK (BASE+210s) passing end+GAP = BASE+65s
        (2, BASE + 5 * SEC): (BASE + 5 * SEC, 1, 7.0),
        # user 1's second session (end BASE+210s) is still open: the final
        # watermark equals its end, so its timeout has not elapsed — held in
        # state, deterministically NOT emitted.
    }


def test_stream_sessionize_drops_late_events(spark, tmp_path):
    """An event behind the watermark cannot corrupt or reopen a session:
    the engine filters it before the stateful operator (that guarantee is
    what makes event-time timeouts sound)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write(spark, src, [(BASE, 1, 1.0), (BASE + 100 * SEC, 9, 1.0)])
    _run(spark, src, out, ckpt)  # watermark -> BASE+100s
    # user 1's session (end BASE) timed out already (BASE+60s < BASE+100s);
    # this LATE event (BASE+5s << watermark) must be dropped, not start a
    # ghost session.
    _write(spark, src, [(BASE + 5 * SEC, 1, 5.0), (BASE + 300 * SEC, 9, 1.0)])
    _run(spark, src, out, ckpt)

    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.value_sum)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, BASE): (BASE, 1, 1.0),  # timeout-closed in run 1's no-data batch
        # user 9's first island: run 2's final watermark (BASE+300s)
        # passed its end+GAP (BASE+160s)
        (9, BASE + 100 * SEC): (BASE + 100 * SEC, 1, 1.0),
    }


class _FakeState:
    """Minimal GroupState stand-in for driving the session kernel directly
    (the kernel is pure python+pandas — cross-batch shapes that are awkward
    to stage through real micro-batches pin deterministically here)."""

    def __init__(self, value=None, watermark_ms=0):
        self._v = value
        self.hasTimedOut = False
        self.removed = False
        self.timeout_ms = None
        self.watermark_ms = watermark_ms

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def _islands(st):
    """State arrays -> list of (start, last, n, vsum, n_nonnull) tuples."""
    return list(zip(*st.get))


def test_session_kernel_in_gap_straggler_lowers_start_and_skips_null_values():
    """code-review r12 regressions: (a) an in-watermark event from a LATER
    micro-batch that predates the open session's first seen event by LESS
    than the gap must lower session_start (one island); (b) a NULL value
    must not NaN-poison value_sum (SQL sum semantics) while n_events still
    counts the row."""
    import pandas as pd

    from kadiyadb_spark.streaming.stateful import _session_fn

    fn = _session_fn(gap_ns=100)
    # batch 1: event at ts=1000
    st = _FakeState()
    list(fn((7,), iter([pd.DataFrame({"ts": [1000], "value": [2.0]})]), st))
    assert _islands(st) == [(1000, 1000, 1, 2.0, 1)]
    # batch 2: straggler at ts=950 (within watermark, in-gap) + a NULL value
    list(
        fn(
            (7,),
            iter([pd.DataFrame({"ts": [950, 1050], "value": [3.0, None]})]),
            st,
        )
    )
    ((start, last, n, vsum, nn),) = _islands(st)
    assert start == 950          # lowered by the straggler (was stuck at 1000)
    assert last == 1050
    assert n == 3
    assert vsum == 5.0           # 2.0 + 3.0; the NULL contributed nothing
    assert nn == 2
    assert vsum == vsum          # not NaN


def test_session_kernel_super_gap_straggler_opens_own_island():
    """VERDICT r12 item 1: with watermark_delay > gap, a cross-batch
    in-watermark straggler with ts < session_start - gap must become its
    OWN island — the pre-r13 kernel's ``start = min(start, ts)`` fused the
    two into one session spanning a silent super-gap hole."""
    import pandas as pd

    from kadiyadb_spark.streaming.stateful import _session_fn

    GAP = 30 * 60 * SEC
    fn = _session_fn(gap_ns=GAP)
    t10 = BASE + 2 * 3600 * SEC  # "10:00" session opener
    t08 = BASE                   # "08:00" straggler, 2h earlier (>> gap)
    st = _FakeState()
    # batch 1 opens the 10:00 session
    list(fn((1,), iter([pd.DataFrame({"ts": [t10], "value": [1.0]})]), st))
    # batch 2 delivers the in-watermark 08:00 straggler (delay > gap)
    list(fn((1,), iter([pd.DataFrame({"ts": [t08], "value": [2.0]})]), st))
    assert _islands(st) == [
        (t08, t08, 1, 2.0, 1),   # the straggler's own island
        (t10, t10, 1, 1.0, 1),   # the open session, NOT stretched down
    ]
    # the re-armed timeout targets the EARLIEST island's closure
    assert st.timeout_ms == (t08 + GAP) // 1_000_000

    # watermark passes the straggler island's end+gap but not the session's:
    # only the straggler island is emitted, as its own session
    st2 = _FakeState(st.get, watermark_ms=(t08 + GAP) // 1_000_000 + 1)
    st2.hasTimedOut = True
    out = list(fn((1,), iter([]), st2))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (row["session_start"], row["session_end"], row["n_events"]) == (
        t08, t08, 1,
    )
    assert _islands(st2) == [(t10, t10, 1, 1.0, 1)]


def test_session_kernel_point_bridges_two_islands():
    """An admitted event landing within the gap of BOTH neighbours merges
    the two islands into one (the sorted fold must chain-merge)."""
    import pandas as pd

    from kadiyadb_spark.streaming.stateful import _session_fn

    fn = _session_fn(gap_ns=100)
    st = _FakeState(([1000, 1180], [1000, 1200], [1, 2], [1.0, 5.0], [1, 2]))
    list(fn((1,), iter([pd.DataFrame({"ts": [1090], "value": [None]})]), st))
    assert _islands(st) == [(1000, 1200, 4, 6.0, 3)]


def test_session_kernel_all_null_island_emits_null_value_sum():
    """Batch F.sum parity (ADVICE r12): an island whose every value is NULL
    emits value_sum = NULL, not 0.0."""
    import pandas as pd

    from kadiyadb_spark.streaming.stateful import _session_fn

    fn = _session_fn(gap_ns=100)
    st = _FakeState()
    list(
        fn(
            (1,),
            iter([pd.DataFrame({"ts": [1000, 1010], "value": [None, None]})]),
            st,
        )
    )
    st.hasTimedOut = True
    st.watermark_ms = (1010 + 100) // 1_000_000 + 1
    out = list(fn((1,), iter([]), st))
    row = out[0].iloc[0]
    assert row["n_events"] == 2
    assert row["value_sum"] is None
    assert st.removed


def test_stream_sessionize_super_gap_straggler_two_sessions(spark, tmp_path):
    """End-to-end through real micro-batches and the Arrow state boundary:
    watermark_delay (2h) > gap (30min); batch 2's straggler predates the
    open session by 2h and must surface as its OWN session once the
    watermark passes it — not fuse into one session with a 2h hole."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    GAP = 30 * 60 * SEC
    HOUR = 3600 * SEC

    # straggler 1min ABOVE the exact watermark (t10 - 2h): admission must
    # not ride the engine's late-row boundary comparison
    t08, t10 = BASE + 60 * SEC, BASE + 2 * HOUR
    _write(spark, src, [(t10, 1, 1.0)])

    def _run2(batch_path_rows=None):
        if batch_path_rows:
            _write(spark, src, batch_path_rows)
        q = (
            stream_sessionize(
                spark.readStream.schema(SRC_SCHEMA).parquet(src),
                gap_ns=GAP,
                watermark_delay="2 hours",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run2()
    # batch 2: the 08:01 straggler (admitted: wm = 10:00 - 2h = 08:00) plus
    # a far-future event to push the final watermark past both islands
    _run2([(t08, 1, 5.0), (BASE + 10 * HOUR, 9, 1.0)])

    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.value_sum)
        for r in spark.read.schema(SESSION_SCHEMA).parquet(out).collect()
    }
    assert got == {
        (1, t08): (t08, 1, 5.0),   # the straggler's own session
        (1, t10): (t10, 1, 1.0),   # the original session, hole-free
    }


def test_compact_decisions_spares_staged_uncommitted_segment(spark, tmp_path):
    """code-review r12: a LIVE stream may have STAGED seg-<batch> for the
    next batch without committing its manifest yet — compaction's GC must
    spare it (quiescence checks can't see pre-commit staging), while still
    folding and GC'ing the committed per-batch segments."""
    from kadiyadb_spark.fs import HadoopFS
    from kadiyadb_spark.manifest import GenLog
    from kadiyadb_spark.streaming.ingest import compact_decisions, read_decisions

    d = str(tmp_path / "dec")
    log = GenLog(spark, d)
    for b in (0, 1):
        ref = f"seg-{b:012d}"
        spark.createDataFrame(
            [(b * 10, 1, b)], "doc_id long, accepted long, batch_id long"
        ).write.mode("overwrite").parquet(HadoopFS.join(d, ref))
        m = log.read()
        m["segments"] = [*m.get("segments", []), {"batch": b, "ref": ref}]
        m["hwm"] = b
        m["add_hwm"] = b
        log.commit(m, m["gen"])
    # a crashed/in-flight batch 2: staged, NOT in any manifest
    staged = "seg-000000000002"
    spark.createDataFrame(
        [(99, 1, 2)], "doc_id long, accepted long, batch_id long"
    ).write.mode("overwrite").parquet(HadoopFS.join(d, staged))

    compact_decisions(spark, d)

    fs = HadoopFS(spark, d)
    names = set(fs.listdir(d))
    assert staged in names, "staged (uncommitted) segment must survive GC"
    # (seg-0/seg-1 remain on disk here: GenLog keep=3 retains the pre-fold
    # manifests that still reference them — the pinned-read contract)
    # committed view folds to the 2 committed rows; staged stays invisible
    assert read_decisions(spark, d).count() == 2


def test_stage_sessionize_batches_stages_an_empty_batch(spark, tmp_path):
    """The sessionize entry's staging writes no ``_b=a`` partition when
    batch a has no rows (every event within the last 4 h); it must still
    stage two ordered batch files, the first schema-only."""
    import os

    import __spark_entry__ as entry

    sf = tmp_path / "sf"
    spark.createDataFrame(
        [Row(ts=BASE + i * SEC, user_id=i % 2, value=1.0) for i in range(4)], SRC_SCHEMA
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    entry._stage_sessionize_batches(spark, str(sf), str(tmp_path))
    a = spark.read.parquet(str(tmp_path / "events" / "a.parquet"))
    b = spark.read.parquet(str(tmp_path / "events" / "b.parquet"))
    assert a.count() == 0 and a.columns == SRC_SCHEMA.names
    assert b.count() == 4
    a_t, b_t = (os.path.getmtime(tmp_path / "events" / f"{n}.parquet") for n in "ab")
    assert a_t < b_t
