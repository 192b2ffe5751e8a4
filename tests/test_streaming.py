"""Structured Streaming ingestion (O1 streaming form): file-source micro-
batches -> cube; verified equal to batch track over the same events."""

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from kadiyadb_spark.catalog import Params
from kadiyadb_spark.database import Database
from kadiyadb_spark.ingest import track_batch
from kadiyadb_spark.streaming import (
    stream_dedup,
    stream_track_agg,
    stream_track_agg_append,
    stream_track_raw,
)

# seconds-scale params so event-time watermarking is meaningful
SEC = 1_000_000_000
P = Params(duration=3600 * SEC, resolution=60 * SEC, retention=24 * 3600 * SEC, fields=("et", "uid"))

SRC_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType()),
        T.StructField("et", T.StringType()),
        T.StructField("uid", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

BASE = 1_700_000_000 * SEC
B0 = BASE - (BASE % (3600 * SEC))  # epoch start


def _write_batch(spark, path, rows):
    spark.createDataFrame(
        [
            Row(ts=r[0], et=r[1], uid=r[2], value=None if r[3] is None else float(r[3]))
            for r in rows
        ],
        SRC_SCHEMA,
    ).write.mode(
        "append"
    ).parquet(path)


def _pts(df):
    out = []
    for r in df.collect():
        d = r.asDict()
        key = tuple(d[k] for k in sorted(d) if k.startswith("f") and d[k] is not None)
        out.append((d["bucket"], key, d["total"], d["cnt"]))
    return sorted(out)


# rows batch Track rejects; every streaming sink must reject exactly these
POISON = [
    (B0 + 5 * SEC, "click", "u1", float("nan")),
    (B0 + 5 * SEC, "click", "u1", None),
    (B0 + 5 * SEC, "", "u1", 1.0),
    (B0 + 5 * SEC, "click", "*", 1.0),
    (None, "click", "u1", 1.0),
    (B0 + 5 * SEC, "click", "u1", 1e12),  # past the 2^53 / 10^4 scaled-long grid
]


@pytest.mark.parametrize("strategy", ["raw", "agg", "agg_append"])
def test_stream_matches_batch(spark, tmp_path, strategy):
    src = str(tmp_path / "src")
    rows1 = [(B0 + 5 * SEC, "click", "u1", 5.0), (B0 + 65 * SEC, "click", "u1", 7.0), *POISON]
    rows2 = [(B0 + 10 * SEC, "click", "u1", 3.0), (B0 + 70 * SEC, "view", "u2", 1.0)]
    db = Database.open(spark, str(tmp_path / f"db_{strategy}"), P)
    start = {
        "raw": stream_track_raw,
        "agg": stream_track_agg,
        "agg_append": stream_track_agg_append,
    }[strategy]
    # append mode commits a window only once the watermark passes it: a
    # last event two hours later closes every window of epoch B0
    runs = [rows1, rows2]
    if strategy == "agg_append":
        runs.append([(B0 + 7200 * SEC, "late", "x", 1.0)])
    for rows in runs:
        _write_batch(spark, src, rows)
        # same checkpoint every run: earlier batches are not reprocessed
        q = start(
            spark.readStream.schema(SRC_SCHEMA).parquet(src),
            db,
            checkpoint=str(tmp_path / f"ckpt_{strategy}_1"),
        )
        q.awaitTermination(120)

    got = _pts(db.fetch(B0, B0 + 120 * SEC, ["click", "u1"]))
    assert got == [
        (B0, ("click", "u1"), 8.0, 2.0),  # 5+3 in bucket 0
        (B0 + 60 * SEC, ("click", "u1"), 7.0, 1.0),
    ]
    # prefix rollup maintained by the stream too
    got1 = _pts(db.fetch(B0 + 60 * SEC, B0 + 120 * SEC, ["click"]))
    assert got1 == [(B0 + 60 * SEC, ("click",), 7.0, 1.0)]
    got2 = _pts(db.fetch(B0 + 60 * SEC, B0 + 120 * SEC, ["view", "u2"]))
    assert got2 == [(B0 + 60 * SEC, ("view", "u2"), 1.0, 1.0)]
    # the whole committed epoch equals batch Track over the same files,
    # poison rows included
    batch = track_batch(
        spark.read.schema(SRC_SCHEMA).parquet(src),
        fields=list(P.fields),
        resolution=P.resolution,
        duration=P.duration,
    )
    assert _pts(db.cube().filter(f"epoch = {B0}")) == _pts(batch.filter(f"epoch = {B0}"))


def test_replayed_batch_is_noop(spark, tmp_path):
    """foreachBatch re-runs a micro-batch with the SAME batch_id after a sink
    failure or restart-from-checkpoint; the increment merge must not
    double-count it (applied-batch high-water mark)."""
    db = Database.open(spark, str(tmp_path / "db_replay"), P)
    batch = spark.createDataFrame(
        [Row(ts=B0 + 5 * SEC, et="click", uid="u1", value=5.0)], SRC_SCHEMA
    )
    assert db.track_stream_batch(batch, batch_id=0) is True
    # forced replay of batch 0 -> skipped
    assert db.track_stream_batch(batch, batch_id=0) is False
    got = _pts(db.fetch(B0, B0 + 60 * SEC, ["click", "u1"]))
    assert got == [(B0, ("click", "u1"), 5.0, 1.0)]
    # next batch id applies normally
    assert db.track_stream_batch(batch, batch_id=1) is True
    got = _pts(db.fetch(B0, B0 + 60 * SEC, ["click", "u1"]))
    assert got == [(B0, ("click", "u1"), 10.0, 2.0)]
    # a second stream's marks are independent
    assert db.track_stream_batch(batch, batch_id=0, stream_id="other") is True


def test_stream_agg_rejects_subsecond_resolution(spark, tmp_path):
    # resolution not a whole number of microseconds -> clear error, not a
    # silently mis-bucketed '0 seconds' window
    bad = Params(duration=1_000_000, resolution=500, retention=2_000_000, fields=("et",))
    db = Database.open(spark, str(tmp_path / "db_ns"), bad)
    src = tmp_path / "nosrc"
    src.mkdir()
    events = spark.readStream.schema(SRC_SCHEMA).parquet(str(src))
    with pytest.raises(ValueError, match="microsecond"):
        stream_track_agg(events, db, checkpoint=str(tmp_path / "ckpt_ns"))


def test_stream_dedup_drops_redeliveries(spark, tmp_path):
    """At-least-once delivery: the same event_id arriving again (same file or
    a later micro-batch within the watermark) must be dropped before it can
    double-count downstream."""
    from pyspark.sql import types as T2

    schema = T2.StructType(
        [
            T2.StructField("ts", T2.LongType()),
            T2.StructField("eid", T2.StringType()),
            T2.StructField("value", T2.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    rows1 = [(B0 + 5 * SEC, "e1", 5.0), (B0 + 6 * SEC, "e2", 7.0), (B0 + 5 * SEC, "e1", 5.0)]
    rows2 = [(B0 + 6 * SEC, "e2", 7.0), (B0 + 8 * SEC, "e3", 1.0)]
    for rows in (rows1, rows2):
        spark.createDataFrame([Row(ts=r[0], eid=r[1], value=r[2]) for r in rows], schema).write.mode(
            "append"
        ).parquet(src)

    events = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream_dedup(events, ["eid"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.eid for r in spark.sql("SELECT eid FROM dedup_out").collect())
    assert got == ["e1", "e2", "e3"]


def test_stream_stream_join_within_watermark(spark, tmp_path):
    """Stream-stream inner join with event-time bounds: purchases join the
    same user's views from the preceding hour; both sides watermarked so
    state is evicted (unbounded-state joins OOM a real cluster)."""
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    schema = T2.StructType(
        [
            T2.StructField("ts", T2.LongType()),
            T2.StructField("uid", T2.StringType()),
            T2.StructField("kind", T2.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    rows = [
        (B0 + 10 * SEC, "u1", "view"),
        (B0 + 20 * SEC, "u1", "purchase"),   # joins the view 10s earlier
        (B0 + 30 * SEC, "u2", "purchase"),   # no prior view -> no row
        (B0 + 40 * SEC, "u2", "view"),       # later view doesn't match
    ]
    spark.createDataFrame([Row(ts=r[0], uid=r[1], kind=r[2]) for r in rows], schema).write.parquet(src)

    def side(kind, ts_name):
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F2.col("kind") == kind)
            .select(
                F2.col("uid"),
                F2.timestamp_micros((F2.col("ts") / 1000).cast("long")).alias(ts_name),
            )
            .withWatermark(ts_name, "1 hour")
        )
    views, purchases = side("view", "v_time"), side("purchase", "p_time")
    joined = purchases.alias("p").join(
        views.alias("v"),
        F2.expr(
            "p.uid = v.uid AND v_time >= p_time - INTERVAL 1 HOUR AND v_time < p_time"
        ),
        "inner",
    )
    q = (
        joined.select(F2.col("p.uid").alias("uid"), "p_time", "v_time")
        .writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [(r.uid,) for r in spark.sql("SELECT uid FROM ss_join_out").collect()]
    assert got == [("u1",)]


def test_stream_interval_join_cross_batch(spark, tmp_path):
    """stream_interval_join must match pairs whose halves arrive in
    DIFFERENT micro-batches — only buffered join state can connect a click
    from batch 1 to its purchase in batch 2 — and must honor the inclusive
    [ts - lookback, ts] bound exactly."""
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from kadiyadb_spark.streaming.ingest import stream_interval_join

    schema = T2.StructType(
        [
            T2.StructField("ts", T2.LongType()),
            T2.StructField("uid", T2.StringType()),
            T2.StructField("kind", T2.StringType()),
            T2.StructField("eid", T2.LongType()),
        ]
    )
    MIN = 60 * SEC
    src = str(tmp_path / "src")
    batch1 = [
        (B0 + 10 * SEC, "u1", "click", 1),
        (B0 + 50 * SEC, "u2", "purchase", 2),  # no prior click -> no pair
        (B0, "u3", "click", 3),
        (B0, "u4", "click", 4),
    ]
    batch2 = [
        (B0 + 100 * SEC, "u1", "purchase", 5),       # pairs with eid=1 (batch 1)
        (B0 + 60 * SEC, "u2", "click", 6),           # after u2's purchase -> no pair
        (B0 + 30 * MIN, "u3", "purchase", 7),        # exactly lookback -> inclusive
        (B0 + 30 * MIN + SEC, "u4", "purchase", 8),  # past lookback -> no pair
    ]
    for rows in (batch1, batch2):
        spark.createDataFrame(
            [Row(ts=r[0], uid=r[1], kind=r[2], eid=r[3]) for r in rows], schema
        ).write.mode("append").parquet(src)

    def stream(kind):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F2.col("kind") == kind)
        )

    pairs = stream_interval_join(
        stream("purchase"), stream("click"), ["uid"], lookback="30 minutes", watermark="2 hours"
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.uid, r.eid, r.eid_r)
        for r in spark.sql("SELECT uid, eid, eid_r FROM ij_out").collect()
    )
    assert got == [("u1", 5, 1), ("u3", 7, 3)]


def test_ts_us_expr_is_exact_where_double_division_is_not(spark):
    """ns->µs must use exact arithmetic: ns epochs (~1.7e18) exceed double's
    53-bit mantissa, so `ts / 1000` can land on the adjacent microsecond and
    silently move a boundary event across a window edge. Values below are
    found by search: int(v/1000) != v//1000 for each."""
    from pyspark.sql import functions as F

    from kadiyadb_spark.schema import ts_us_expr

    vals = [
        1536378608205740996,
        1938664983666283899,
        1653529114056516909,
        1704067200000000000,  # a clean boundary must stay exact too
    ]
    df = spark.createDataFrame([Row(ts=v) for v in vals])
    got = {r["ts"]: r["us"] for r in df.select("ts", ts_us_expr(F.col("ts")).alias("us")).collect()}
    for v in vals:
        assert got[v] == v // 1000, f"{v}: got {got[v]}, want {v // 1000}"
    # and the naive double division is indeed wrong on the adversarial ones
    assert any(int(v / 1000) != v // 1000 for v in vals[:3])


def test_stateless_curation_ops_compose_on_streams(spark, tmp_path):
    """Mixture sampling and PII redaction are stateless map expressions, so
    the SAME operators run unchanged inside a Structured Stream — the
    curation pipeline works at the ingest boundary, not only in batch.
    Stream output must equal the batch computation row-for-row."""
    from pyspark.sql import functions as F

    from kadiyadb_spark.functions.sampling import stratified_hash_sample
    from kadiyadb_spark.functions.text import redact_pii

    docs = spark.createDataFrame(
        [
            Row(
                doc_id=i,
                source="a" if i % 2 == 0 else "b",
                text=f"doc {i} mail user{i}@ex.com",
            )
            for i in range(40)
        ]
    )
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)

    def curate(df):
        kept = stratified_hash_sample(df, {"a": 0.6, "b": 0.2}, strata_col="source")
        return redact_pii(kept).select("doc_id", "redacted", "n_emails")

    batch = {tuple(r) for r in curate(spark.read.parquet(src)).collect()}
    stream = curate(spark.readStream.schema(docs.schema).parquet(src))
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == batch and len(got) > 0


def test_stream_track_agg_append_emits_closed_windows_once(spark, tmp_path):
    """Strategy 3: append-mode window agg commits a group exactly once when
    the watermark passes its window end; tail windows stay in state; the
    sink never rewrites existing data (pure segment appends)."""
    from kadiyadb_spark.streaming import stream_track_agg_append

    src = str(tmp_path / "src")
    # run 1: two buckets; watermark ends at max ts -> nothing closed yet
    # except buckets whose end <= max ts
    rows1 = [
        (B0 + 5 * SEC, "click", "u1", 5.0),
        (B0 + 10 * SEC, "click", "u1", 3.0),
        (B0 + 65 * SEC, "click", "u1", 7.0),
    ]
    _write_batch(spark, src, rows1)
    db = Database.open(spark, str(tmp_path / "db_app"), P)
    q = stream_track_agg_append(
        spark.readStream.schema(SRC_SCHEMA).parquet(src),
        db,
        checkpoint=str(tmp_path / "ckpt_app"),
        watermark="0 seconds",
    )
    q.awaitTermination(120)
    # watermark = B0+65s: bucket B0 (end B0+60s) is closed and committed
    # with the EXACT final sum; bucket B0+60s is open -> absent
    got = _pts(db.cube().filter("depth = 2"))
    assert got == [(B0, ("click", "u1"), 8.0, 2.0)]

    # run 2: a later event closes bucket B0+60s; its committed row carries
    # the full sum, emitted once (no partials, no rewrite of bucket B0)
    refs_before = db._manifest()["segments"]
    _write_batch(spark, src, [(B0 + 200 * SEC, "view", "u2", 1.0)])
    q = stream_track_agg_append(
        spark.readStream.schema(SRC_SCHEMA).parquet(src),
        db,
        checkpoint=str(tmp_path / "ckpt_app"),
        watermark="0 seconds",
    )
    q.awaitTermination(120)
    got = _pts(db.cube().filter("depth = 2"))
    assert got == [
        (B0, ("click", "u1"), 8.0, 2.0),
        (B0 + 60 * SEC, ("click", "u1"), 7.0, 1.0),
    ]
    # append-only: run 1's committed segments are still referenced untouched
    now = db._manifest()["segments"]
    for e, refs in refs_before.items():
        assert set(refs) <= set(now[e])


def test_stream_index_dedup_feedback_loop(spark, tmp_path):
    """Batch 2 must be checked against batch 1's ACCEPTED docs (the add-back
    loop), and rejected docs must NOT become part of the index."""
    import os

    from kadiyadb_spark.functions.dedup import MinHashIndex
    from kadiyadb_spark.streaming.ingest import read_decisions, stream_index_dedup

    texts = {
        "seed": "the quick brown fox jumps over the lazy dog near the river bank " * 4,
        "novel_a": "completely different machine learning pipeline with gradient descent " * 4,
        "novel_b": "astronomy telescopes observe distant galaxies through cosmic dust " * 4,
    }
    seed = spark.createDataFrame([(1, texts["seed"])], "doc_id long, text string")
    idx = MinHashIndex.build(
        seed, str(tmp_path / "idx"), num_hashes=8, bands=4, shingle_k=8
    )
    # batch 1: 200 is novel (accept), 201 duplicates the seed (reject)
    b1 = spark.createDataFrame(
        [(200, texts["novel_a"]), (201, texts["seed"])], "doc_id long, text string"
    )
    # batch 2: 300 duplicates ACCEPTED 200 (must reject -> proves feedback);
    # 301 re-sends the seed text — it must match ONLY the indexed seed doc
    # (n_dups=1), not also the REJECTED 201, proving rejects aren't indexed;
    # 302 is novel (accept)
    b2 = spark.createDataFrame(
        [(300, texts["novel_a"]), (301, texts["seed"]), (302, texts["novel_b"])],
        "doc_id long, text string",
    )
    src = tmp_path / "incoming"
    os.makedirs(src)
    for i, b in enumerate([b1, b2]):
        sdir = str(tmp_path / f"slice{i}")
        b.coalesce(1).write.parquet(sdir)
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = str(src / f"batch{i}.parquet")
        os.rename(f"{sdir}/{part}", dst)
        t = 1_700_000_000 + i * 3600
        os.utime(dst, (t, t))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_index_dedup(
        stream, idx, str(tmp_path / "dec"), str(tmp_path / "ckpt_sidx"), min_est=0.5
    )
    q.awaitTermination()
    out = {
        r["doc_id"]: (r["accepted"], r["n_dups"])
        for r in read_decisions(spark, str(tmp_path / "dec")).collect()
    }
    assert out[200] == (1, 0)
    assert out[201] == (0, 1)  # matches the indexed seed
    assert out[300] == (0, 1), "batch-2 dup of accepted batch-1 doc must be rejected"
    assert out[301] == (0, 1), "rejected 201 must not have been indexed (n_dups would be 2)"
    assert out[302] == (1, 0)

    # -- exactly-once under FULL replay: blow away the checkpoint and rerun
    # the identical stream against the same decisions log + index. Every
    # micro-batch replays with its original batch_id; the hwm makes each a
    # no-op — decision rows and index rows must both be byte-identical.
    import shutil

    dec_before = read_decisions(spark, str(tmp_path / "dec")).count()
    idx_before = idx.banded().count()
    shutil.rmtree(str(tmp_path / "ckpt_sidx"))
    stream2 = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q2 = stream_index_dedup(
        stream2, idx, str(tmp_path / "dec"), str(tmp_path / "ckpt_sidx"), min_est=0.5
    )
    q2.awaitTermination()
    assert read_decisions(spark, str(tmp_path / "dec")).count() == dec_before
    assert idx.banded().count() == idx_before
    out2 = {
        r["doc_id"]: (r["accepted"], r["n_dups"])
        for r in read_decisions(spark, str(tmp_path / "dec")).collect()
    }
    assert out2 == out

    # -- maintenance: folding the per-batch segments into one must not
    # change the committed view, and replaying after the fold must still
    # be a no-op (hwm/add_hwm carried over).
    from kadiyadb_spark.streaming.ingest import compact_decisions

    from kadiyadb_spark.manifest import GenLog

    pre_gen = GenLog(spark, str(tmp_path / "dec")).read()["gen"]
    compact_decisions(spark, str(tmp_path / "dec"))
    out3 = {
        r["doc_id"]: (r["accepted"], r["n_dups"])
        for r in read_decisions(spark, str(tmp_path / "dec")).collect()
    }
    assert out3 == out
    # generation-pin contract: a reader pinned at the pre-fold manifest
    # keeps its (per-batch) segments through the fold's GC
    pinned = {
        r["doc_id"]: (r["accepted"], r["n_dups"])
        for r in read_decisions(spark, str(tmp_path / "dec"), at_gen=pre_gen).collect()
    }
    assert pinned == out
    shutil.rmtree(str(tmp_path / "ckpt_sidx"))
    stream3 = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q3 = stream_index_dedup(
        stream3, idx, str(tmp_path / "dec"), str(tmp_path / "ckpt_sidx"), min_est=0.5
    )
    q3.awaitTermination()
    assert read_decisions(spark, str(tmp_path / "dec")).count() == dec_before
    assert idx.banded().count() == idx_before


def test_stream_index_dedup_crash_between_commit_and_add(spark, tmp_path):
    """Crash AFTER the decisions manifest commit but BEFORE the index add:
    the replay must finish the add from the COMMITTED decisions (not
    re-probe), leaving decisions exactly-once and the feedback loop intact."""
    import os

    from kadiyadb_spark.functions.dedup import MinHashIndex
    from kadiyadb_spark.streaming.ingest import read_decisions, stream_index_dedup

    novel = "completely different machine learning pipeline with gradient descent " * 4
    seed = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river bank " * 4)],
        "doc_id long, text string",
    )
    idx = MinHashIndex.build(
        seed, str(tmp_path / "idx"), num_hashes=8, bands=4, shingle_k=8
    )
    b1 = spark.createDataFrame([(200, novel)], "doc_id long, text string")
    src = tmp_path / "incoming"
    os.makedirs(src)
    sdir = str(tmp_path / "slice0")
    b1.coalesce(1).write.parquet(sdir)
    part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
    os.rename(f"{sdir}/{part}", str(src / "batch0.parquet"))

    # first attempt: the index add explodes after the decisions commit
    real_add = MinHashIndex.add_banded
    calls = {"n": 0}

    def exploding_add(self, banded):
        calls["n"] += 1
        raise RuntimeError("injected crash before index add")

    MinHashIndex.add_banded = exploding_add
    try:
        stream = spark.readStream.schema(b1.schema).parquet(str(src))
        q = stream_index_dedup(
            stream, idx, str(tmp_path / "dec"), str(tmp_path / "ckpt"), min_est=0.5
        )
        import pytest as _pytest

        with _pytest.raises(Exception):
            q.awaitTermination()
    finally:
        MinHashIndex.add_banded = real_add
    assert calls["n"] == 1
    # decisions ARE committed (the crash was after the manifest swap)...
    assert read_decisions(spark, str(tmp_path / "dec")).count() == 1
    # ...but the accepted doc is NOT in the index yet
    assert idx.banded().filter("doc_id = 200").count() == 0

    # replay (fresh checkpoint, same batch content/id): takes the
    # recovery branch — decisions unchanged, add completed
    stream2 = spark.readStream.schema(b1.schema).parquet(str(src))
    q2 = stream_index_dedup(
        stream2, idx, str(tmp_path / "dec"), str(tmp_path / "ckpt2"), min_est=0.5
    )
    q2.awaitTermination()
    dec = read_decisions(spark, str(tmp_path / "dec"))
    assert dec.count() == 1
    assert dec.collect()[0]["accepted"] == 1
    assert idx.banded().filter("doc_id = 200").count() > 0


def test_stream_interval_join_left_outer_emits_on_watermark(spark, tmp_path):
    """left_outer: an unmatched purchase emits with null click columns — but
    only after a LATER batch advances the watermark past its eligibility
    window (the Structured Streaming outer-join contract). Three single-file
    batches: the match emits inline, the far-future batches push the
    watermark, and the unmatched row from batch 1 surfaces in batch 3."""
    import time as _time

    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from kadiyadb_spark.streaming.ingest import stream_interval_join

    schema = T2.StructType(
        [
            T2.StructField("ts", T2.LongType()),
            T2.StructField("uid", T2.StringType()),
            T2.StructField("kind", T2.StringType()),
            T2.StructField("eid", T2.LongType()),
        ]
    )
    MIN, HOUR = 60 * SEC, 3600 * SEC
    src = str(tmp_path / "src")
    batches = [
        [(B0, "u2", "click", 1), (B0 + 5 * MIN, "u2", "purchase", 2), (B0, "u1", "purchase", 3)],
        [(B0 + 3 * HOUR, "u9", "click", 4), (B0 + 3 * HOUR, "u9", "purchase", 5)],
        [(B0 + 6 * HOUR, "u8", "click", 6)],  # watermark pusher only
    ]
    for rows in batches:
        spark.createDataFrame(
            [Row(ts=r[0], uid=r[1], kind=r[2], eid=r[3]) for r in rows], schema
        ).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    def stream(kind):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F2.col("kind") == kind)
        )

    pairs = stream_interval_join(
        stream("purchase"), stream("click"), ["uid"],
        lookback="10 minutes", watermark="10 minutes", how="left_outer",
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("oj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r.eid, r.eid_r) for r in spark.sql("SELECT eid, eid_r FROM oj_out").collect()
    )
    assert got == [(2, 1), (3, None), (5, 4)]


def test_stream_alerts_state_tracks_ingest(spark, tmp_path):
    """Alert state after each drain reflects ALL ingested data (a run
    extended by a later batch re-evaluates to the merged run); a drain
    with no new data leaves the committed state untouched (replay no-op);
    staged-but-uncommitted segments are invisible to read_alerts."""
    from kadiyadb_spark.streaming.ingest import read_alerts, stream_alerts

    src = str(tmp_path / "asrc")
    db = Database.open(spark, str(tmp_path / "adb"), P)
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ackpt")

    def drain():
        q = stream_alerts(
            spark.readStream.schema(SRC_SCHEMA).parquet(src), db,
            alerts_dir=alerts, checkpoint=ckpt,
            pattern=["click"], threshold=5.0,
            from_ts=B0, to_ts=B0 + 10 * 60 * SEC, for_slots=2,
        )
        q.awaitTermination(120)

    # batch 1: slots 0 and 1 breach -> one firing run of 2 slots
    _write_batch(spark, src, [
        (B0 + 5 * SEC, "click", "u1", 6.0),
        (B0 + 65 * SEC, "click", "u1", 7.0),
    ])
    drain()
    s1 = read_alerts(spark, alerts).collect()
    assert len(s1) == 1 and (s1[0].pending_start, s1[0].n_slots) == (B0, 2)

    # batch 2: slot 2 breaches via accumulation (3+4 >= 5) -> run extends to 3
    _write_batch(spark, src, [
        (B0 + 125 * SEC, "click", "u1", 3.0),
        (B0 + 126 * SEC, "click", "u1", 4.0),
    ])
    drain()
    s2 = read_alerts(spark, alerts).collect()
    assert len(s2) == 1
    assert (s2[0].pending_start, s2[0].n_slots, s2[0].peak) == (B0, 3, 7.0)
    assert s2[0].firing_start == B0 + 60 * SEC
    assert s2[0].run_end == B0 + 3 * 60 * SEC

    # drain with nothing new: state unchanged
    drain()
    s3 = read_alerts(spark, alerts).collect()
    assert sorted(map(str, s3)) == sorted(map(str, s2))


def test_stream_alerts_evaluate_only_second_rule(spark, tmp_path):
    """Multi-rule deployment (r13 review closure): rule #2 runs with
    ingest=False — it evaluates against the cube's committed state
    without merging, so totals never double-count (two ingesting rules
    with distinct stream_ids would each merge the full stream). Its
    state equals the batch series_alerts over the same data once it
    evaluates after the final merge."""
    from kadiyadb_spark.streaming.ingest import read_alerts, stream_alerts

    src = str(tmp_path / "asrc")
    db = Database.open(spark, str(tmp_path / "adb"), P)
    a1, a2 = str(tmp_path / "al1"), str(tmp_path / "al2")

    _write_batch(spark, src, [
        (B0 + 5 * SEC, "click", "u1", 6.0),
        (B0 + 65 * SEC, "click", "u1", 7.0),
    ])
    kw = dict(pattern=["click"], from_ts=B0, to_ts=B0 + 10 * 60 * SEC)
    q = stream_alerts(
        spark.readStream.schema(SRC_SCHEMA).parquet(src), db,
        alerts_dir=a1, checkpoint=str(tmp_path / "ck1"),
        threshold=5.0, for_slots=2, **kw,
    )
    q.awaitTermination(120)
    # rule #2 (different threshold), evaluate-only, AFTER the merge
    q2 = stream_alerts(
        spark.readStream.schema(SRC_SCHEMA).parquet(src), db,
        alerts_dir=a2, checkpoint=str(tmp_path / "ck2"),
        threshold=6.5, for_slots=1, ingest=False, **kw,
    )
    q2.awaitTermination(120)
    s2 = read_alerts(spark, a2).collect()
    # only the 7.0 slot breaches 6.5 — and the 6.0 slot was NOT
    # double-merged into 12.0 by the second stream
    assert len(s2) == 1 and (s2[0].pending_start, s2[0].peak) == (B0 + 60 * SEC, 7.0)
    s1 = read_alerts(spark, a1).collect()
    assert len(s1) == 1 and s1[0].peak == 7.0


def test_stream_index_dedup_id_col_mismatch_raises(spark, tmp_path):
    """A caller id_col differing from the index's silently disabled the
    whole gate pre-r13 (probe and feedback join on index.id_col) — now a
    ValueError at wiring time."""
    import pytest as _pt

    from kadiyadb_spark.functions.dedup import MinHashIndex
    from kadiyadb_spark.streaming.ingest import stream_index_dedup

    corpus = spark.createDataFrame([(1, "seed doc text " * 4)], "doc_id long, text string")
    idx = MinHashIndex.build(corpus, str(tmp_path / "idx"))
    (tmp_path / "s").mkdir()  # the file source checks the dir eagerly
    with _pt.raises(ValueError, match="must match the index's id column"):
        stream_index_dedup(
            spark.readStream.schema("id long, text string").parquet(str(tmp_path / "s")),
            idx, str(tmp_path / "dec"), str(tmp_path / "ck"), id_col="id",
        )


def test_stream_rejects_quarantine_idempotent(spark, tmp_path):
    """The dead-letter side feed: rejected rows land per batch; a REPLAYED
    batch id overwrites its directory instead of duplicating (the side-feed
    analog of the hwm idempotence)."""
    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database
    from kadiyadb_spark.ingest import track_rejects
    from kadiyadb_spark.streaming.ingest import read_stream_rejects
    from pyspark.sql import functions as F

    db = Database.open(
        spark, str(tmp_path / "db"),
        Params(duration=10, resolution=1, retention=100, fields=("x", "y")),
    )
    batch = spark.createDataFrame(
        [(0, 5, "a", "u"), (1, None, "a", "u"), (2, 6, "*", "u")],
        "event_id long, ts long, x string, y string",
    ).withColumn("value", F.lit(1.0))
    rejects_dir = str(tmp_path / "rej")

    def merge(b, bid):
        track_rejects(b, ["x", "y"], ts_col="ts").withColumn(
            "batch_id", F.lit(bid).cast("long")
        ).write.mode("overwrite").parquet(f"{rejects_dir}/batch={bid}")
        db.track_stream_batch(b, bid, ts_col="ts", total_col="value")

    merge(batch, 0)
    merge(batch, 0)  # replay: same batch id, overwrite not duplicate
    merge(batch, 1)
    out = read_stream_rejects(spark, rejects_dir).collect()
    assert sorted((r.batch_id, r.event_id, r.reject_reason) for r in out) == [
        (0, 1, "null_ts"), (0, 2, "illegal_field:x"),
        (1, 1, "null_ts"), (1, 2, "illegal_field:x"),
    ]


def test_stream_dedup_before_start_stragglers(spark, tmp_path):
    """VERDICT r12 item 7 (asymmetric-edge audit): in-watermark stragglers
    OLDER than everything previously seen must behave correctly on the
    earlier edge too — a redelivery whose ts is EARLIER than its first
    occurrence is still dropped (key state, not ts equality), and a NEW
    key arriving out of order within the watermark is kept."""
    from pyspark.sql import types as T2

    schema = T2.StructType(
        [
            T2.StructField("ts", T2.LongType()),
            T2.StructField("eid", T2.StringType()),
            T2.StructField("value", T2.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    HOUR = 3600 * SEC
    batch1 = [(B0 + 2 * HOUR, "e1", 5.0), (B0 + 2 * HOUR, "e2", 1.0)]
    batch2 = [
        # duplicate of e1 delivered with an EARLIER (in-watermark) ts
        (B0 + 1 * HOUR, "e1", 5.0),
        # brand-new key, 90 min older than everything seen: kept
        (B0 + 30 * 60 * SEC, "e9", 2.0),
    ]
    for rows in (batch1, batch2):
        spark.createDataFrame(
            [Row(ts=r[0], eid=r[1], value=r[2]) for r in rows], schema
        ).write.mode("append").parquet(src)

    events = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream_dedup(events, ["eid"], watermark="4 hours")
        .writeStream.format("memory")
        .queryName("dedup_straggler_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.eid, r.ts) for r in spark.sql("SELECT eid, ts FROM dedup_straggler_out").collect()
    )
    assert got == [
        ("e1", B0 + 2 * HOUR),           # first occurrence only
        ("e2", B0 + 2 * HOUR),
        ("e9", B0 + 30 * 60 * SEC),      # straggler NEW key survives
    ]


def test_stream_interval_join_right_side_straggler(spark, tmp_path):
    """VERDICT r12 item 7: a RIGHT-side event arriving a batch LATER with a
    ts BEFORE the already-buffered left event (in-watermark, within
    lookback) must still produce the pair — the earlier-edge mirror of the
    cross-batch test, exercising the engine's left-state retention against
    a straggler rather than forward matching."""
    from pyspark.sql import types as T2

    from kadiyadb_spark.streaming.ingest import stream_interval_join

    schema = T2.StructType(
        [
            T2.StructField("ts", T2.LongType()),
            T2.StructField("uid", T2.StringType()),
            T2.StructField("kind", T2.StringType()),
            T2.StructField("eid", T2.LongType()),
        ]
    )
    MIN = 60 * SEC
    src = str(tmp_path / "src")
    batch1 = [(B0 + 100 * SEC, "u5", "purchase", 1), (B0 + 100 * SEC, "u6", "purchase", 2)]
    batch2 = [
        (B0 + 40 * SEC, "u5", "click", 3),            # straggler: 60s BEFORE the purchase
        (B0 + 100 * SEC - 31 * MIN, "u6", "click", 4),  # straggler past lookback: no pair
        (B0 + 40 * MIN, "u7", "purchase", 5),         # advances watermark
    ]
    for rows in (batch1, batch2):
        spark.createDataFrame(
            [Row(ts=r[0], uid=r[1], kind=r[2], eid=r[3]) for r in rows], schema
        ).write.mode("append").parquet(src)

    def stream(kind):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(f"kind = '{kind}'")
        )

    pairs = stream_interval_join(
        stream("purchase"), stream("click"), ["uid"], lookback="30 minutes", watermark="2 hours"
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("join_straggler_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.eid, r.eid_r)
        for r in spark.sql("SELECT eid, eid_r FROM join_straggler_out").collect()
    )
    assert got == [(1, 3)]  # the straggler click pairs; past-lookback one does not
