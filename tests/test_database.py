"""Persisted Database: open/track/merge/fetch/expire round-trips (O10-O13)
plus the manifest commit protocol (atomicity, exactly-once replay, vacuum)."""

import pytest
from pyspark.sql import Row

from kadiyadb_spark.catalog import Params
from kadiyadb_spark.database import Database
from kadiyadb_spark.fs import HadoopFS

P = Params(duration=5, resolution=1, retention=10, fields=("x", "y"))


def _events(spark, rows):
    return spark.createDataFrame([Row(ts=r[0], x=r[1], y=r[2], v=float(r[3])) for r in rows])


def _pts(df):
    out = []
    for r in df.collect():
        d = r.asDict()
        key = tuple(d[k] for k in sorted(d) if k.startswith("f") and d[k] is not None)
        out.append((d["epoch"], key, d["bucket"], d["total"], d["cnt"]))
    return sorted(out)


def _refs(db, epoch):
    return db._manifest()["segments"].get(epoch, [])


def test_open_writes_and_reads_params(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db1"), P)
    db2 = Database.open(spark, str(tmp_path / "db1"))
    assert db2.params == P


def test_open_checks_the_stored_value_grid(spark, tmp_path):
    """A store whose params.json carries the older ``"valueDp": 4`` opens
    and reads back the same cube; ``null`` or another grid refuses to
    open, naming the store and the value."""
    import json
    import re

    path = str(tmp_path / "db")
    db = Database.open(spark, path, P)
    db.track(_events(spark, [(0, "a", "b", 1.25), (3, "a", "c", 2.5)]), total_col="v")
    want = sorted(db.cube().collect(), key=repr)
    fs, pj = HadoopFS(spark, path), HadoopFS.join(path, "params.json")
    # the params.json the previous to_dict wrote
    fs.write_text(pj, json.dumps({**P.to_dict(), "valueDp": 4}), overwrite=True)
    assert sorted(Database.open(spark, path).cube().collect(), key=repr) == want
    assert Database.open(spark, path, P).params == P
    for bad, shown in ((None, "null"), (2, "2")):
        fs.write_text(pj, json.dumps({**P.to_dict(), "valueDp": bad}), overwrite=True)
        with pytest.raises(ValueError, match=re.escape(f"{path}: valueDp {shown} is not")):
            Database.open(spark, path)


def test_open_via_hadoop_file_uri(spark, tmp_path):
    """The whole lifecycle must run against a Hadoop URI root (the
    object-store path shape), not just bare POSIX paths."""
    root = f"file://{tmp_path}/udb"
    db = Database.open(spark, root, P)
    db.track(_events(spark, [(0, "a", "b", 5.0), (7, "a", "b", 1.0)]), total_col="v")
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 5.0, 1.0)]
    assert db.expire(before_ts=5) == [0]
    assert db.compact() == []  # one segment per epoch already
    db2 = Database.open(spark, root)
    assert db2.params == P
    assert db2.fetch(0, 10, ["a", "b"], densify=False).count() == 1


def test_track_fetch_roundtrip(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 5.0), (1, "a", "b", 7.0)]), total_col="v")
    got = _pts(db.fetch(0, 2, ["a", "b"]))
    assert got == [(0, ("a", "b"), 0, 5.0, 1.0), (0, ("a", "b"), 1, 7.0, 1.0)]
    # rollup prefix persisted too
    got1 = _pts(db.fetch(0, 2, ["a"]))
    assert got1 == [(0, ("a",), 0, 5.0, 1.0), (0, ("a",), 1, 7.0, 1.0)]


def test_track_increments_across_batches(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 5.0)]), total_col="v")
    db.track(_events(spark, [(0, "a", "b", 2.0), (6, "a", "c", 1.0)]), total_col="v")
    got = _pts(db.fetch(0, 1, ["a", "b"]))
    assert got == [(0, ("a", "b"), 0, 7.0, 2.0)]  # 5+2, count 1+1
    # second epoch written without clobbering the first
    got2 = _pts(db.fetch(5, 7, ["a", "c"]))
    # slot 5 zero-filled (series exists in epoch 5), slot 6 has the point
    assert got2 == [(5, ("a", "c"), 5, 0.0, 0.0), (5, ("a", "c"), 6, 1.0, 1.0)]


def test_merge_replace_overwrites_matched_keys(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 5.0)]), total_col="v")
    rows = db.cube().collect()
    # simulate an update-mode batch carrying new cumulative values
    updated = spark.createDataFrame([r.asDict() | {"total": 99.0, "cnt": 9.0} for r in rows], db.cube().schema)
    db.merge_replace(updated)
    got = _pts(db.fetch(0, 1, ["a", "b"]))
    assert got == [(0, ("a", "b"), 0, 99.0, 9.0)]


def test_expire_drops_old_epochs(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0), (5, "a", "b", 2.0), (11, "a", "b", 3.0)]), total_col="v")
    dropped = db.expire(before_ts=5)
    assert dropped == [0]
    assert db.fetch(0, 5, ["a", "b"]).count() == 0
    assert _pts(db.fetch(5, 6, ["a", "b"])) == [(5, ("a", "b"), 5, 2.0, 1.0)]
    # the dropped epoch's segment directories are gone, not just dereferenced
    segs = db.fs.listdir(HadoopFS.join(db.cube_path, "segs"))
    for seg in segs:
        children = db.fs.listdir(HadoopFS.join(db.cube_path, "segs", seg))
        assert "epoch_p=0" not in children
    # retention-driven: now=21, retention=10 -> cutoff 11 -> epoch 5 dropped
    assert db.expire_by_retention(now_ts=21) == [5]
    # with rotation GC off, expire's keep=1 commit still frees the dropped
    # epoch at once instead of leaving it to vacuum()
    off = Database.open(spark, str(tmp_path / "db_off"), P, rotation_gc=False)
    off.track(_events(spark, [(0, "a", "b", 1.0), (5, "a", "b", 2.0)]), total_col="v")
    gone = _refs(off, 0)
    assert off.expire(before_ts=5) == [0]
    assert gone and not any(off.fs.exists(HadoopFS.join(off.cube_path, r)) for r in gone)


def test_compact_reduces_segments_preserves_values(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    # several small batches fragment epoch 0 into multiple segments
    for i in range(3):
        db.track(_events(spark, [(i, "a", "b", float(i + 1))]), total_col="v")
    before = _pts(db.fetch(0, 5, ["a", "b"]))
    assert len(_refs(db, 0)) == 3
    assert db.compact(max_files_per_epoch=1) == [0]
    assert len(_refs(db, 0)) == 1
    assert _pts(db.fetch(0, 5, ["a", "b"])) == before
    # idempotent: nothing left to compact
    assert db.compact(max_files_per_epoch=1) == []


def test_compact_sorts_series_major(spark, tmp_path):
    """Compacted epochs are series-major (depth, f1.., bucket): each series'
    slots are contiguous in the file — the reference's record-major block
    layout (block/block.go:53-61) — so dimension row-group stats narrow."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    rows = [
        Row(ts=(i % 4) * P.resolution, x=f"x{i % 3}", y=f"y{i % 2}", v=1.0)
        for i in range(24)
    ]
    db.track(spark.createDataFrame(rows), total_col="v")
    db.track(_events(spark, [(0, "zzz", "y0", 1.0)]), total_col="v")  # fragment
    assert db.compact(max_files_per_epoch=1) == [0]
    # parquet preserves in-file row order; read the segment RAW (cube()'s
    # fold shuffles)
    raw = spark.read.parquet(*db._segment_paths(db._manifest()))
    got = [
        (r["depth"], r["f1"] or "", r["f2"] or "", r["bucket"])
        for r in raw.collect()
    ]
    assert got == sorted(got)


def test_track_appends_segments_without_rewrite_and_folds_exactly(spark, tmp_path):
    """LSM write path: each track() commits a NEW segment (earlier segment
    files are never rewritten), and cube() folds duplicates to exact sums."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    (first_ref,) = _refs(db, 0)
    first_files = set(db.fs.list_files(HadoopFS.join(db.cube_path, first_ref)))
    db.track(_events(spark, [(0, "a", "b", 2.0)]), total_col="v")
    refs = _refs(db, 0)
    # append-only: the first segment survives untouched, a new one is added
    assert len(refs) == 2 and first_ref in refs
    assert set(db.fs.list_files(HadoopFS.join(db.cube_path, first_ref))) == first_files
    # the fold is exact: one row per key, summed
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 3.0, 2.0)]
    assert db.cube().filter("depth = 2").count() == 1


# ---------------------------------------------------------------- commit protocol


def test_stream_batch_replay_is_exactly_once(spark, tmp_path):
    """Replaying a committed micro-batch (same batch_id) must be a no-op:
    the hwm lives in the same manifest commit as the data refs."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    b = _events(spark, [(0, "a", "b", 5.0)])
    assert db.track_stream_batch(b, batch_id=0, total_col="v") is True
    assert db.track_stream_batch(b, batch_id=0, total_col="v") is False  # replay skipped
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 5.0, 1.0)]
    assert db.applied_batch_hwm("raw") == 0
    assert db.track_stream_batch(b, batch_id=1, total_col="v") is True
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 10.0, 2.0)]


def test_stream_batch_crash_before_commit_leaves_no_data(spark, tmp_path, monkeypatch):
    """Simulated crash BETWEEN the segment write and the manifest commit:
    the staged data must be invisible, and the replay must land the batch
    exactly once. This is the window the old data-then-marker sequence
    double-counted."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    b = _events(spark, [(0, "a", "b", 5.0)])

    class Crash(RuntimeError):
        pass

    def boom(*args, **kwargs):
        raise Crash("crash between data write and manifest commit")

    monkeypatch.setattr(db, "_commit_manifest", boom)
    with pytest.raises(Crash):
        db.track_stream_batch(b, batch_id=0, total_col="v")
    monkeypatch.undo()
    # nothing visible: the staged segment is unreferenced
    assert db.cube().count() == 0
    assert db.applied_batch_hwm("raw") == -1
    # replay applies the batch ONCE
    assert db.track_stream_batch(b, batch_id=0, total_col="v") is True
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 5.0, 1.0)]
    # vacuum clears the crash's orphaned staging
    removed = db.vacuum()
    assert removed  # the orphan from the crashed attempt
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 5.0, 1.0)]


def test_empty_stream_batch_still_advances_hwm(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    empty = _events(spark, [(0, "a", "b", 1.0)]).limit(0)
    assert db.track_stream_batch(empty, batch_id=0, total_col="v") is True
    assert db.applied_batch_hwm("raw") == 0
    assert db.cube().count() == 0


def test_manifest_epoch_pruning_reads_only_in_range_segments(spark, tmp_path, monkeypatch):
    """fetch() must hand the scan only the segment dirs of in-range epochs —
    the manifest plays the partition-pruning role, before Spark plans."""
    # a byte bound of 0 keeps this small read on the Spark plan pinned here
    monkeypatch.setattr("kadiyadb_spark.database._DRIVER_READ_MAX_BYTES", 0)
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(
        _events(spark, [(0, "a", "b", 1.0), (7, "a", "b", 2.0), (12, "a", "b", 3.0)]),
        total_col="v",
    )
    files = db.fetch(0, 3, ["a", "b"], densify=False).inputFiles()
    assert files and all("epoch_p=0" in f for f in files)


def test_empty_and_non_empty_reads_share_one_schema(spark, tmp_path, monkeypatch):
    """A fetch or fetch_multi whose kept segment set is empty returns the
    same schema, nullability included, as one that keeps segments: at the
    default byte bound (both on the driver), at 0 (the empty read on the
    driver, the other on Spark) and at -1 (both on Spark)."""
    from kadiyadb_spark import database as dbm

    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0), (3, "a", "c", 2.0)]), total_col="v")
    reads = {
        "fetch": lambda frm: db.fetch(frm, frm + 5, ["a", "*"]),
        "sparse fetch": lambda frm: db.fetch(frm, frm + 5, ["a", "*"], densify=False),
        "fetch_multi": lambda frm: db.fetch_multi(frm, frm + 5, {"q": ["a", "*"], "r": ["a"]}),
    }
    for name, read in reads.items():
        schemas = []
        for bound in (dbm._DRIVER_READ_MAX_BYTES, 0, -1):
            monkeypatch.setattr(dbm, "_DRIVER_READ_MAX_BYTES", bound)
            kept, empty = read(0), read(50)  # epoch 50 holds no segment
            assert kept.count() > 0 and empty.count() == 0
            schemas += [kept.schema, empty.schema]
        assert all(s == schemas[0] for s in schemas), (name, schemas)


def test_vacuum_keeps_referenced_segments(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    assert db.vacuum() == []  # nothing orphaned
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 1.0, 1.0)]


def test_old_manifests_are_retired(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db"), P)
    for i in range(6):
        db.track(_events(spark, [(i, "a", "b", 1.0)]), total_col="v")
    manifests = [
        f for f in db.fs.list_files(db.cube_path, suffix=".json") if f.startswith("MANIFEST-")
    ]
    assert len(manifests) == 3  # _KEEP_MANIFESTS
    assert db.cube().filter("depth = 2").count() == 6  # buckets 0..5


def test_snapshot_reads_pin_a_generation(spark, tmp_path):
    """Each retained manifest is a consistent point-in-time view: commits
    are whole-manifest swaps over immutable segments, and GC keeps any
    segment some retained generation still references."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    g1 = db.generations()[-1]
    db.track(_events(spark, [(0, "a", "b", 2.0)]), total_col="v")
    g2 = db.generations()[-1]
    assert g2 == g1 + 1
    # pinned read sees ONLY the first commit; latest sees the fold of both
    pin = db.cube(at_gen=g1).filter("depth = 2").collect()
    assert [(r["total"], r["cnt"]) for r in pin] == [(1.0, 1.0)]
    now = db.cube().filter("depth = 2").collect()
    assert [(r["total"], r["cnt"]) for r in now] == [(3.0, 2.0)]
    # compaction rewrites the data but the pinned snapshot stays readable
    # (its segments survive GC while the generation is retained)
    assert db.compact() == [0]
    pin2 = db.cube(at_gen=g1).filter("depth = 2").collect()
    assert [(r["total"], r["cnt"]) for r in pin2] == [(1.0, 1.0)]
    with pytest.raises(ValueError):
        db.cube(at_gen=999)


def test_expire_collapses_snapshot_window(spark, tmp_path):
    """Expiry is data deletion: older generations must not keep expired
    epochs reachable, so only the expiring commit's generation remains."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0), (7, "a", "b", 2.0)]), total_col="v")
    db.expire(before_ts=5)
    assert len(db.generations()) == 1
    assert db.cube().select("epoch").distinct().collect()[0][0] == 5


def test_concurrent_writer_loses_loudly(spark, tmp_path):
    """A second writer racing the same generation must fail with
    ConcurrentWriteError, never silently corrupt (single-writer contract)."""
    from kadiyadb_spark.database import ConcurrentWriteError

    db_a = Database.open(spark, str(tmp_path / "db"), P)
    db_b = Database.open(spark, str(tmp_path / "db"))
    db_a.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    # writer B plans its commit against gen G, writer A commits G+1 first
    m = db_b._manifest()
    db_a.track(_events(spark, [(1, "a", "b", 1.0)]), total_col="v")
    with pytest.raises(ConcurrentWriteError):
        db_b._commit_manifest(m)
    # A's committed data is intact
    assert db_a.cube().filter("depth = 2").count() == 2


def test_salted_compact_splits_epoch_across_files(spark, tmp_path):
    """salt_files > 1 must split an epoch's rewrite across multiple writer
    tasks/files (the huge-epoch straggler escape) with values unchanged and
    whole series kept together per file (salt hashes the dimensions)."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    rows = [
        Row(ts=(i % 5) * P.resolution, x=f"x{i % 8}", y=f"y{i % 3}", v=1.0)
        for i in range(120)
    ]
    db.track(spark.createDataFrame(rows), total_col="v")
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")  # fragment
    before = _pts(db.cube())
    assert db.compact(salt_files=3) == [0]
    (ref,) = _refs(db, 0)
    files = db.fs.list_files(HadoopFS.join(db.cube_path, ref), suffix=".parquet")
    assert len(files) > 1  # epoch split across writer tasks
    assert _pts(db.cube()) == before  # values identical


def test_changes_returns_exactly_the_new_increments(spark, tmp_path):
    """cube(at_gen=g0) + changes(g0) folded together == cube(): the
    incremental consumer sees exactly the appended delta, folded per key."""
    db = Database.open(spark, str(tmp_path / "db_cdf"), P)
    db.track(_events(spark, [(0, "a", "b", 5.0), (1, "a", "b", 7.0)]), total_col="v")
    g0 = db._manifest()["gen"]
    db.track(_events(spark, [(1, "a", "b", 2.0), (7, "a", "c", 3.0)]), total_col="v")
    db.track(_events(spark, [(1, "a", "b", 1.0)]), total_col="v")
    delta = _pts(db.changes(g0).filter("depth = 2"))
    # batch 2+3 only, folded: bucket 1 of epoch 0 sums 2+1, epoch 5 holds 3
    assert delta == [
        (0, ("a", "b"), 1, 3.0, 2.0),
        (5, ("a", "c"), 7, 3.0, 1.0),
    ]
    # empty range
    g2 = db._manifest()["gen"]
    assert db.changes(g2).count() == 0
    # conservation: snapshot + delta == current cube (per-key fold)
    cur = _pts(db.cube())
    snap = _pts(db.cube(at_gen=g0))
    merged = {}
    for e, k, b, t, c in snap + _pts(db.changes(g0)):
        key = (e, k, b)
        t0, c0 = merged.get(key, (0.0, 0.0))
        merged[key] = (t0 + t, c0 + c)
    assert sorted((e, k, b, t, c) for (e, k, b), (t, c) in merged.items()) == cur


def test_changes_refuses_ranges_spanning_a_rewrite(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db_cdf2"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    g0 = db._manifest()["gen"]
    db.track(_events(spark, [(1, "a", "b", 2.0)]), total_col="v")
    assert db.compact() == [0]  # two segments folded -> refs re-pointed
    with pytest.raises(ValueError, match="rewrite"):
        db.changes(g0)


def test_maintain_runs_expire_compact_vacuum_in_order(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "db_maint"), P)
    # three appends into epoch 0 -> fragmented; one stale epoch below cutoff
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    db.track(_events(spark, [(1, "a", "b", 2.0)]), total_col="v")
    db.track(_events(spark, [(2, "a", "b", 3.0)]), total_col="v")
    db.track(_events(spark, [(12, "a", "b", 9.0)]), total_col="v")
    # plant an orphan: a staged segment no manifest references
    orphan = f"{tmp_path}/db_maint/cube/segs/seg-orphan/epoch_p=0"
    db.fs.mkdirs(orphan)
    # retention 10, now=22 -> cutoff 12 -> epoch 0 expires (12 stays: 12 >= cutoff-floored-epoch 10? epoch(12)=10 >= 10)
    out = db.maintain(now_ts=22, max_files_per_epoch=1)
    assert out["expired"] == [0]
    assert out["compacted"] == []  # the fragmented epoch was the expired one
    assert any("seg-orphan" in v for v in out["vacuumed"])
    assert _pts(db.cube()) == [(10, ("a",), 12, 9.0, 1.0), (10, ("a", "b"), 12, 9.0, 1.0)]
    # fragmentation in a LIVE epoch compacts
    db.track(_events(spark, [(13, "a", "b", 1.0)]), total_col="v")
    out2 = db.maintain(now_ts=22, max_files_per_epoch=1)
    assert out2["compacted"] == [10]
    assert len(_refs(db, 10)) == 1


def test_fsck_reports_missing_and_orphans(spark, tmp_path):
    from kadiyadb_spark.fs import HadoopFS

    db = Database.open(
        spark,
        str(tmp_path / "db_fsck"),
        Params(duration=5, resolution=1, retention=100, fields=("x",)),
    )
    db.track(
        spark.createDataFrame([Row(ts=t, x="a", v=1.0) for t in (0, 7)]), total_col="v"
    )
    rep = db.fsck()
    assert rep["ok"] and rep["missing"] == [] and rep["orphans"] == []
    assert rep["current"] == rep["gens"][-1]

    # orphan: a staged segment dir no manifest references (crashed write)
    fs = HadoopFS(spark, db.cube_path)
    fs.mkdirs(HadoopFS.join(db.cube_path, "segs", "seg-deadbeef", "epoch_p=0"))
    rep = db.fsck()
    assert rep["ok"] and any("seg-deadbeef" in o for o in rep["orphans"])
    assert db.vacuum() == rep["orphans"]  # fsck reports what vacuum removes
    rep = db.fsck()
    assert rep["orphans"] == []

    # missing: a referenced leaf dir deleted out from under the manifest
    ref = db._segment_paths(db._manifest())[0]
    fs.delete(ref)
    rep = db.fsck()
    assert not rep["ok"] and len(rep["missing"]) == 1


def test_f1_stats_prune_segments_on_exact_fetch(spark, tmp_path):
    """Manifest f1 stats: two tracked batches with disjoint first-dimension
    values -> an exact-f1 fetch plans only the segments whose stats contain
    the value, a wildcard fetch reads all, and results are identical to the
    unpruned read."""
    db = Database.open(spark, str(tmp_path / "dbs"), P)
    db.track(_events(spark, [(0, "click", "u1", 5.0), (1, "click", "u2", 2.0)]), total_col="v")
    db.track(_events(spark, [(0, "view", "u1", 3.0)]), total_col="v")
    m = db._manifest()
    refs = m["segments"][0]
    assert len(refs) == 2
    assert m["stats"][refs[0]]["f1"] == ["click"]
    assert m["stats"][refs[1]]["f1"] == ["view"]
    # exact first level -> one segment planned; wildcard -> both
    assert len(db._segment_paths(m, {0}, prune_any=[["click", "*"]])) == 1
    assert len(db._segment_paths(m, {0}, prune_any=None)) == 2
    got = _pts(db.fetch(0, 2, ["click", "*"]))
    assert got == [
        (0, ("click", "u1"), 0, 5.0, 1.0),
        (0, ("click", "u1"), 1, 0.0, 0.0),
        (0, ("click", "u2"), 0, 0.0, 0.0),
        (0, ("click", "u2"), 1, 2.0, 1.0),
    ]
    # a value no segment contains plans an empty scan and returns empty
    assert db._segment_paths(m, {0}, prune_any=[["nope", "*"]]) == []
    assert db.fetch(0, 2, ["nope", "*"], densify=False).count() == 0
    # SECOND-level pruning: u2 only ever appears in the first segment
    assert len(db._segment_paths(m, {0}, prune_any=[["*", "u2"]])) == 1
    assert _pts(db.fetch(0, 2, ["*", "u2"])) == [
        (0, ("click", "u2"), 0, 0.0, 0.0),
        (0, ("click", "u2"), 1, 2.0, 1.0),
    ]
    # Re matcher pruning: positive evidence only, full-anchored like the
    # filter; a backslash escape refuses to prune (dialect safety) but
    # still filters correctly
    from kadiyadb_spark.query import Re

    assert len(db._segment_paths(m, {0}, prune_any=[[Re("cl.*"), "*"]])) == 1
    assert db._segment_paths(m, {0}, prune_any=[[Re("nope|lick"), "*"]]) == []
    assert len(db._segment_paths(m, {0}, prune_any=[[Re("\\w+"), "*"]])) == 2
    # whitelist (ADVICE r09): dialect-divergent constructs refuse to prune
    # even without a backslash — Java class intersection '[a-z&&[aeiou]]'
    # and nested classes '[a[bc]]' parse as literals in Python, and '(?i)'
    # folds different character sets; all degrade to a full read
    for pat in ("[a-z&&[aeiou]]+", "cl[a[bc]]ck", "(?i)CLICK"):
        assert len(db._segment_paths(m, {0}, prune_any=[[Re(pat), "*"]])) == 2
    # shared constructs still prune: classes, quantifiers, '(?:' groups
    assert len(db._segment_paths(m, {0}, prune_any=[[Re("cl[i-k]ck"), "*"]])) == 1
    assert len(db._segment_paths(m, {0}, prune_any=[[Re("(?:cl|fl)ick"), "*"]])) == 1
    assert _pts(db.fetch(0, 2, [Re("cl.*"), "*"])) == got
    assert _pts(db.fetch(0, 2, [Re("\\w+ick"), "*"])) == got
    # batch (fetch_multi) pruning is the UNION of per-pattern evidence
    assert len(db._segment_paths(m, {0}, prune_any=[["click", "*"], ["nope", "*"]])) == 1
    assert len(db._segment_paths(m, {0}, prune_any=[["click", "*"], ["view", "*"]])) == 2
    assert db._segment_paths(m, {0}, prune_any=[["no1", "*"], ["no2", "*"]]) == []
    multi = db.fetch_multi(0, 2, {"c": ["click", "*"], "v": ["view", "*"]})
    by_q = {}
    for r in multi.collect():
        d = r.asDict()
        by_q.setdefault(d.pop("query"), []).append(d)
    solo = lambda p: [  # noqa: E731
        r.asDict() for r in db.fetch(0, 2, p, densify=False).collect()
    ]
    key = lambda d: tuple(sorted(d.items()))  # noqa: E731
    assert sorted(map(key, by_q["c"])) == sorted(map(key, solo(["click", "*"])))
    assert sorted(map(key, by_q["v"])) == sorted(map(key, solo(["view", "*"])))


def test_f1_stats_overflow_disables_pruning_not_correctness(spark, tmp_path, monkeypatch):
    """Past _STATS_MAX distinct f1 values the stats record None and pruning
    degrades to a full read — never a wrong skip."""
    import kadiyadb_spark.database as dbmod

    monkeypatch.setattr(dbmod, "_STATS_MAX", 2)
    db = Database.open(spark, str(tmp_path / "dbo"), P)
    rows = [(0, f"t{i}", "u", 1.0) for i in range(4)]
    db.track(_events(spark, rows), total_col="v")
    m = db._manifest()
    ref = m["segments"][0][0]
    assert m["stats"][ref]["f1"] is None  # f1 overflowed the cap
    assert m["stats"][ref]["f2"] == ["u"]  # f2 did not
    # None level -> no pruning on it: still read for any exact f1 value
    assert len(db._segment_paths(m, {0}, prune_any=[["t3", "u"]])) == 1
    assert _pts(db.fetch(0, 1, ["t3", "u"])) == [(0, ("t3", "u"), 0, 1.0, 1.0)]


def test_inline_stats_equal_refresh_stats_backfill(spark, tmp_path, monkeypatch):
    """One census: the stats ``track`` writes inline equal what
    ``refresh_stats`` backfills once they are cleared, including a level
    past the cap recording None and a multi-epoch segment."""
    import kadiyadb_spark.database as dbmod

    monkeypatch.setattr(dbmod, "_STATS_MAX", 2)
    db = Database.open(spark, str(tmp_path / "db_census"), P)
    db.track(
        _events(
            spark,
            [(0, "a", "u1", 1.0), (1, "b", "u2", 1.0), (2, "a", "u3", 1.0), (6, "c", "u1", 1.0)],
        ),
        total_col="v",
    )
    m = db._manifest()
    inline = m["stats"]
    ref0 = m["segments"][0][0]
    assert inline[ref0] == {"f1": ["a", "b"], "f2": None}  # f2 overflowed the cap
    assert inline[m["segments"][5][0]] == {"f1": ["c"], "f2": ["u1"]}
    db._commit_manifest({**m, "stats": {}})
    assert db._manifest()["stats"] == {}
    assert sorted(db.refresh_stats()) == sorted(inline)
    assert db._manifest()["stats"] == inline


def test_f1_stats_survive_compact_and_follow_gc(spark, tmp_path):
    """compact() folds segments: the folded segment's stats are the union of
    its inputs' values, and stats for the de-referenced inputs drop out of
    the committed manifest with their refs."""
    db = Database.open(spark, str(tmp_path / "dbc"), P)
    db.track(_events(spark, [(0, "click", "u1", 5.0)]), total_col="v")
    db.track(_events(spark, [(0, "view", "u1", 3.0)]), total_col="v")
    old_refs = set(db._manifest()["segments"][0])
    assert db.compact() == [0]
    m = db._manifest()
    refs = m["segments"][0]
    assert len(refs) == 1
    assert m["stats"][refs[0]]["f1"] == ["click", "view"]
    assert set(m["stats"]) == set(refs)  # de-referenced stats dropped
    assert not (old_refs & set(m["stats"]))


def test_stream_batches_defer_stats_and_refresh_backfills(spark, tmp_path):
    """Per-micro-batch sinks skip the stats census (pure ingest latency on
    a low-latency stream); refresh_stats() backfills every stats-less ref
    in ONE job and pruning then behaves exactly as if the stats had been
    written inline. Missing stats in between only cost skipping, never
    correctness."""
    db = Database.open(spark, str(tmp_path / "db_defer"), P)
    b0 = _events(spark, [(0, "click", "u1", 5.0)])
    b1 = _events(spark, [(0, "view", "u1", 3.0)])
    assert db.track_stream_batch(b0, batch_id=0, total_col="v") is True
    assert db.track_stream_batch(b1, batch_id=1, total_col="v") is True
    m = db._manifest()
    refs = m["segments"][0]
    assert len(refs) == 2
    assert m["stats"] == {}  # census deferred, not wrong
    # no evidence -> no skip: both segments planned, results still exact
    assert len(db._segment_paths(m, {0}, prune_any=[["click", "*"]])) == 2
    assert _pts(db.fetch(0, 1, ["click", "u1"])) == [(0, ("click", "u1"), 0, 5.0, 1.0)]
    backfilled = db.refresh_stats()
    assert sorted(backfilled) == sorted(refs)
    m2 = db._manifest()
    assert m2["gen"] == m["gen"] + 1  # atomic swap, data untouched
    assert m2["segments"] == m["segments"]
    assert m2["stats"][refs[0]]["f1"] == ["click"]
    assert m2["stats"][refs[1]]["f1"] == ["view"]
    assert len(db._segment_paths(m2, {0}, prune_any=[["click", "*"]])) == 1
    assert db.refresh_stats() == []  # idempotent: nothing left to backfill
    # maintain() reports the backfill step for segments compaction skips
    db.track_stream_batch(_events(spark, [(12, "x", "y", 1.0)]), batch_id=2, total_col="v")
    out = db.maintain(now_ts=0, max_files_per_epoch=8)
    assert out["stats_refreshed"] == db._manifest()["segments"][10]
    assert db._manifest()["stats"][out["stats_refreshed"][0]]["f1"] == ["x"]


def test_rollup_refresh_continuous_aggregate(spark, tmp_path):
    """Continuous aggregate: dst (coarser resolution) maintained from src's
    manifest changelog — first refresh = full cube, later refreshes read
    only the NEW segments, and replaying a refresh is a no-op (hwm)."""
    from kadiyadb_spark.database import rollup_refresh

    src = Database.open(spark, str(tmp_path / "src"), P)
    dstp = Params(duration=10, resolution=5, retention=100, fields=("x", "y"))
    dst = Database.open(spark, str(tmp_path / "dst"), dstp)

    src.track(_events(spark, [(0, "a", "b", 5.0), (7, "a", "b", 1.0)]), total_col="v")
    assert rollup_refresh(src, dst) is True
    assert rollup_refresh(src, dst) is False  # already applied -> no-op
    got = _pts(dst.fetch(0, 10, ["a", "b"]))
    assert got == [(0, ("a", "b"), 0, 5.0, 1.0), (0, ("a", "b"), 5, 1.0, 1.0)]

    # second src commit -> incremental delta folds into the same coarse slot
    src.track(_events(spark, [(8, "a", "b", 2.0)]), total_col="v")
    assert rollup_refresh(src, dst) is True
    got = _pts(dst.fetch(0, 10, ["a", "b"]))
    assert got == [(0, ("a", "b"), 0, 5.0, 1.0), (0, ("a", "b"), 5, 3.0, 2.0)]
    # prefix rollup carried through the cascade too
    got1 = _pts(dst.fetch(0, 10, ["a"]))
    assert got1 == [(0, ("a",), 0, 5.0, 1.0), (0, ("a",), 5, 3.0, 2.0)]


def test_rollup_refresh_rejects_incompatible_params(spark, tmp_path):
    from kadiyadb_spark.database import rollup_refresh

    src = Database.open(spark, str(tmp_path / "s2"), P)
    bad_fields = Params(duration=10, resolution=5, retention=100, fields=("x",))
    with pytest.raises(ValueError, match="field mismatch"):
        rollup_refresh(src, Database.open(spark, str(tmp_path / "d2"), bad_fields))
    bad_res = Params(duration=9, resolution=3, retention=90, fields=("x", "y"))
    src3 = Database.open(spark, str(tmp_path / "s3"), Params(duration=10, resolution=2, retention=100, fields=("x", "y")))
    with pytest.raises(ValueError, match="multiple"):
        rollup_refresh(src3, Database.open(spark, str(tmp_path / "d3"), bad_res))


def test_rollup_refresh_surfaces_rewritten_history(spark, tmp_path):
    """A src compact between refreshes breaks the pure-append changelog;
    the refresh must fail loudly (rebuild dst), never silently double."""
    from kadiyadb_spark.database import rollup_refresh

    src = Database.open(spark, str(tmp_path / "s4"), P)
    dst = Database.open(
        spark, str(tmp_path / "d4"), Params(duration=10, resolution=5, retention=100, fields=("x", "y"))
    )
    src.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    assert rollup_refresh(src, dst) is True
    src.track(_events(spark, [(1, "a", "b", 1.0)]), total_col="v")
    assert src.compact() == [0]
    with pytest.raises(ValueError, match="rewrite"):
        rollup_refresh(src, dst)


def test_pre_stats_manifest_reads_fine_and_never_prunes(spark, tmp_path):
    """Forward compatibility: a manifest written before the stats key
    existed (hand-stripped here) must read normally and simply skip
    nothing — pruning only ever acts on positive evidence."""
    import json as _json

    db = Database.open(spark, str(tmp_path / "old"), P)
    db.track(_events(spark, [(0, "a", "b", 5.0)]), total_col="v")
    name = db._manifest_names()[-1]
    mpath = HadoopFS.join(db.cube_path, name)
    m = db.fs.read_json(mpath)
    del m["stats"]
    db.fs.delete(mpath)
    assert db.fs.write_json_atomic(mpath, m)
    m2 = db._manifest()
    assert m2["stats"] == {}
    assert len(db._segment_paths(m2, {0}, prune_any=[["zzz", "*"]])) == 1  # no evidence -> no skip
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 5.0, 1.0)]


def test_list_form_stats_entry_still_prunes_f1_only(spark, tmp_path):
    """Early round-6 manifests stored stats as a bare f1 value list; the
    reader must honor them for f1 pruning and treat deeper levels as
    no-evidence."""
    db = Database.open(spark, str(tmp_path / "compat"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    name = db._manifest_names()[-1]
    mpath = HadoopFS.join(db.cube_path, name)
    m = db.fs.read_json(mpath)
    ref = m["segments"]["0"][0]
    m["stats"][ref] = ["a"]  # legacy list form
    db.fs.delete(mpath)
    assert db.fs.write_json_atomic(mpath, m)
    m2 = db._manifest()
    assert len(db._segment_paths(m2, {0}, prune_any=[["a", "b"]])) == 1
    assert db._segment_paths(m2, {0}, prune_any=[["zzz", "*"]]) == []
    # legacy entry has no f2 evidence -> deeper-level pruning never skips
    assert len(db._segment_paths(m2, {0}, prune_any=[["*", "zzz"]])) == 1


def test_segment_skipping_value_set_keeps_any_match(spark, tmp_path):
    """IN-matcher pruning: a segment skips only when its stats exclude
    EVERY listed value; holding any one of them keeps it. And the fetch
    result equals the union of the exact fetches."""
    db = Database.open(spark, str(tmp_path / "indb"), P)
    for ev in ("click", "error", "view"):
        db.track(_events(spark, [(0, ev, "u1", 1.0)]), total_col="v")
    m = db._manifest()
    keep_in = db._segment_paths(m, prune_any=[[["click", "error"], "*"]])
    keep_click = db._segment_paths(m, prune_any=[["click", "*"]])
    keep_all = db._segment_paths(m)
    # three single-event segments: IN keeps exactly the click+error ones
    assert len(keep_all) == 3 and len(keep_click) == 1 and len(keep_in) == 2
    got = _pts(db.fetch(0, 1, [["click", "error"], "*"]))
    assert got == [
        (0, ("click", "u1"), 0, 1.0, 1.0),
        (0, ("error", "u1"), 0, 1.0, 1.0),
    ]


def test_select_resolution_routing_rules(spark, tmp_path):
    """Metadata-only routing: finest-fitting under max_points, retention
    filter with now_ts, coarsest fallback, field-mismatch rejection."""
    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database, select_resolution

    day = 24 * 3600 * 10**9
    minute = 60 * 10**9
    fields = ("event_type", "user_id")
    fine = Database.open(
        spark, str(tmp_path / "fine"),
        Params(duration=day, resolution=minute, retention=7 * day, fields=fields),
    )
    coarse = Database.open(
        spark, str(tmp_path / "coarse"),
        Params(duration=day, resolution=10 * minute, retention=90 * day, fields=fields),
    )
    tiers = [fine, coarse]
    t0 = 1_704_067_200 * 10**9

    # one hour: 60 fine points fit a 100-point budget -> finest wins
    assert select_resolution(tiers, t0, t0 + 3600 * 10**9, max_points=100) is fine
    # one week: 10080 fine points bust 2000 -> 10m tier (1008) fits
    week = 7 * day
    assert select_resolution(tiers, t0, t0 + week, max_points=2000) is coarse
    # nothing fits: coarsest survivor
    assert select_resolution(tiers, t0, t0 + week, max_points=10) is coarse
    # no budget: finest
    assert select_resolution(tiers, t0, t0 + week) is fine
    # retention: a month-old from_ts outlives the fine tier's 7 days
    now = t0 + 30 * day
    assert select_resolution(tiers, t0, t0 + week, max_points=10**9, now_ts=now) is coarse
    # nothing retains it -> coarsest tier still serves (degraded, not empty)
    ancient = t0 - 400 * day
    assert select_resolution(tiers, ancient, ancient + week, now_ts=now) is coarse

    bad = Database.open(
        spark, str(tmp_path / "bad"),
        Params(duration=day, resolution=minute, retention=7 * day, fields=("event_type",)),
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="field mismatch"):
        select_resolution([fine, bad], t0, t0 + week)
    with _pt.raises(ValueError, match="at least one"):
        select_resolution([], t0, t0 + week)


def test_clone_snapshot_export(spark, tmp_path):
    """clone(at_gen) exports exactly the pinned snapshot; the clone is
    independent of later source writes; stream hwm carries over so a
    restored backup never double-applies; a non-empty target refuses."""
    src = Database.open(spark, str(tmp_path / "csrc"), P)
    src.track(_events(spark, [(0, "a", "b", 5.0)]), total_col="v")
    g1 = src.current_gen()
    src.track(_events(spark, [(1, "a", "b", 7.0)]), total_col="v")

    # full clone: both rows; pinned clone: only generation g1's row
    full = src.clone(str(tmp_path / "cfull"))
    assert _pts(full.fetch(0, 2, ["a", "b"], densify=False)) == _pts(
        src.fetch(0, 2, ["a", "b"], densify=False)
    )
    pinned = src.clone(str(tmp_path / "cpin"), at_gen=g1)
    assert _pts(pinned.fetch(0, 2, ["a", "b"], densify=False)) == [
        (0, ("a", "b"), 0, 5.0, 1.0)
    ]

    # clone starts its own lineage at generation 0
    assert full.current_gen() == 0

    # independence: a later source write never appears in the clone
    src.track(_events(spark, [(2, "a", "b", 9.0)]), total_col="v")
    assert full.fetch(2, 3, ["a", "b"], densify=False).count() == 0

    # refusal on a non-empty target
    import pytest as _pt

    with _pt.raises(ValueError, match="already has commits"):
        src.clone(str(tmp_path / "cfull"))


def test_clone_carries_stream_hwm(spark, tmp_path):
    """A restored backup resuming the same stream checkpoint must see the
    applied-batch high-water mark and no-op on replays."""
    src = Database.open(spark, str(tmp_path / "hsrc"), P)
    ev = _events(spark, [(0, "a", "b", 5.0)])
    src.track_stream_batch(ev, 3, stream_id="s1", total_col="v")
    restored = src.clone(str(tmp_path / "hdst"))
    assert restored.applied_batch_hwm("s1") == 3
    # replaying batch 3 into the restored db is a no-op
    restored.track_stream_batch(ev, 3, stream_id="s1", total_col="v")
    assert _pts(restored.fetch(0, 1, ["a", "b"], densify=False)) == [
        (0, ("a", "b"), 0, 5.0, 1.0)
    ]


def test_clone_refuses_mismatched_target_params(spark, tmp_path):
    """Regression (live-review finding): a target pre-initialized with
    DIFFERENT params (no commits, so the commit guard passes) must refuse
    — open() keeps the target's old params.json, which would misread the
    cloned segments' bucket/epoch grid."""
    src = Database.open(spark, str(tmp_path / "psrc"), P)
    src.track(_events(spark, [(0, "a", "b", 5.0)]), total_col="v")
    other = Params(duration=10, resolution=2, retention=20, fields=("x", "y"))
    Database.open(spark, str(tmp_path / "pdst"), other)  # init'ed, never tracked
    import pytest as _pt

    with _pt.raises(ValueError, match="params mismatch"):
        src.clone(str(tmp_path / "pdst"))
    # the guard lives in open() itself now — a direct open with different
    # params refuses too
    with _pt.raises(ValueError, match="params mismatch"):
        Database.open(spark, str(tmp_path / "pdst"), P)


def test_create_view_is_manifest_pinned(spark, tmp_path):
    """The SQL view wraps the manifest resolved at registration: rows
    visible through spark.sql equal the API cube at that generation, and
    a commit AFTER registration stays invisible until re-registered."""
    from pyspark.sql import Row

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    db = Database.open(
        spark, str(tmp_path / "dbv"),
        Params(duration=10, resolution=1, retention=100, fields=("x", "y")),
    )
    db.track(spark.createDataFrame([Row(ts=1, x="a", y="u", value=2.0)]))
    db.create_view("kdb_view_t")
    assert spark.sql(
        "SELECT sum(total) AS s FROM kdb_view_t WHERE depth = 2"
    ).collect()[0]["s"] == 2.0
    db.track(spark.createDataFrame([Row(ts=2, x="a", y="u", value=5.0)]))
    # pinned: the new commit is invisible through the old view
    assert spark.sql(
        "SELECT sum(total) AS s FROM kdb_view_t WHERE depth = 2"
    ).collect()[0]["s"] == 2.0
    db.create_view("kdb_view_t")  # re-register -> current generation
    assert spark.sql(
        "SELECT sum(total) AS s FROM kdb_view_t WHERE depth = 2"
    ).collect()[0]["s"] == 7.0


def test_rule_group_view_evaluates_and_is_pinned(spark, tmp_path):
    """db.rule_group evaluates the group over the pruned store scan, and
    create_rule_group_view registers it manifest-pinned: a commit after
    registration stays invisible until re-registered (VERDICT r11 item 8
    — the BI/JDBC path to the PromQL family)."""
    from pyspark.sql import Row

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    db = Database.open(
        spark, str(tmp_path / "dbrg"),
        Params(duration=100, resolution=1, retention=1000, fields=("x", "y")),
    )
    # series (a,u): breaches >= 3.0 at ts 1,2 (consecutive) and 5
    db.track(spark.createDataFrame([
        Row(ts=1, x="a", y="u", value=4.0),
        Row(ts=2, x="a", y="u", value=3.0),
        Row(ts=3, x="a", y="u", value=1.0),
        Row(ts=5, x="a", y="u", value=9.0),
        Row(ts=2, x="b", y="v", value=8.0),
    ]))
    rules = {"hot_a": {"pattern": ["a", "*"], "threshold": 3.0, "for_slots": 2}}
    runs = {(r["pending_start"], r["n_slots"])
            for r in db.rule_group(0, 10, rules).collect()}
    assert runs == {(1, 2)}  # the 2-slot run fires; the lone ts=5 breach doesn't
    db.create_rule_group_view("kdb_rg_t", 0, 10, rules)
    assert spark.sql("SELECT count(*) AS n FROM kdb_rg_t").collect()[0]["n"] == 1
    # a new breach pair committed AFTER registration is invisible (pinned)
    db.track(spark.createDataFrame([
        Row(ts=7, x="a", y="u", value=5.0), Row(ts=8, x="a", y="u", value=5.0),
    ]))
    assert spark.sql("SELECT count(*) AS n FROM kdb_rg_t").collect()[0]["n"] == 1
    db.create_rule_group_view("kdb_rg_t", 0, 10, rules)
    got = {(r["pending_start"], r["n_slots"], r["peak"])
           for r in spark.sql("SELECT * FROM kdb_rg_t").collect()}
    assert got == {(1, 2, 4.0), (7, 2, 5.0)}


def test_forget_removes_series_and_refolds_rollups(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "f1"), P)
    db.track(_events(spark, [(0, "a", "u1", 5), (1, "a", "u2", 3),
                             (2, "b", "u1", 7), (6, "a", "u1", 2)]),
             total_col="v")
    res = db.forget(["*", "u1"])
    assert res["forgotten_rows"] == 3 and res["epochs"] == [0, 5]
    rows = _pts(db.cube())
    # no u1 anywhere, at any depth
    assert not any("u1" in k for _, k, *_ in rows)
    # depth-1 rollups re-folded from survivors: only a@1 (u2) remains in
    # epoch 0, and epoch 5's a-rollup is gone entirely
    assert rows == sorted([
        (0, ("a",), 1, 3.0, 1.0),
        (0, ("a", "u2"), 1, 3.0, 1.0),
    ])
    # fetch still answers (zero-filled) over the forgotten series
    assert db.fetch(0, 3, ["a", "u1"]).filter("cnt > 0").count() == 0


def test_forget_full_epoch_and_noop_and_validation(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "f2"), P)
    db.track(_events(spark, [(0, "a", "u1", 5)]), total_col="v")
    # unknown series: clean no-op, no commit
    g0 = db.current_gen()
    assert db.forget(["zzz", "*"]) == {"epochs": [], "forgotten_rows": 0}
    assert db.current_gen() == g0
    # shallow pattern refused
    with pytest.raises(ValueError):
        db.forget(["a"])
    # forgetting the only series empties the epoch but keeps it addressable
    res = db.forget(["a", "*"])
    assert res["forgotten_rows"] == 1
    assert db.cube().count() == 0
    assert db.fetch(0, 2, ["a", "u1"]).filter("cnt > 0").count() == 0


def test_forget_is_atomic_snapshot_swap(spark, tmp_path):
    db = Database.open(spark, str(tmp_path / "f3"), P)
    db.track(_events(spark, [(0, "a", "u1", 5), (0, "a", "u2", 3)]), total_col="v")
    g_before = db.current_gen()
    db.forget(["*", "u1"])
    # pinned read of the retained pre-forget generation still sees u1
    old = db.cube(at_gen=g_before)
    assert old.filter("f2 = 'u1'").count() == 1
    new = db.cube()
    assert new.filter("f2 = 'u1'").count() == 0


def test_empty_db_gen_minus_one_paths(spark, tmp_path):
    """code-review r12: current_gen() hands out -1 on an empty cube and
    consumers feed it back — create_view / create_rule_group_view on a
    fresh store and changes(-1) must resolve to the EMPTY manifest, not a
    'generation -1 not retained' ValueError."""
    db = Database.open(spark, str(tmp_path / "empty"), P)
    assert db.current_gen() == -1
    db.create_view("kdb_empty_v")
    assert spark.sql("SELECT count(*) n FROM kdb_empty_v").collect()[0]["n"] == 0
    db.create_rule_group_view(
        "kdb_empty_rg", 0, 10, {"r": {"pattern": ["a", "*"], "threshold": 1.0}}
    )
    assert spark.sql("SELECT count(*) n FROM kdb_empty_rg").collect()[0]["n"] == 0
    g0 = db.current_gen()
    db.track(_events(spark, [(0, "a", "b", 5.0)]), total_col="v")
    # the consumer recorded gen=-1 before the first ingest: changes(-1) is
    # exactly the first batch
    delta = db.changes(g0)
    assert delta.filter("depth = 2").count() == 1


def test_fetch_illegal_pattern_raises_before_pruning(spark, tmp_path):
    """code-review r12: pattern validation must run BEFORE manifest
    pruning — an illegal level raises the descriptive ValueError, never
    an opaque TypeError from the pruning layer."""
    db = Database.open(spark, str(tmp_path / "valf"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    with pytest.raises(ValueError, match="illegal query field value"):
        db.fetch(0, 10, ["a", 42])
    with pytest.raises(ValueError, match="illegal query field value"):
        db.fetch_multi(0, 10, {"q": ["a", 42]})
    with pytest.raises(ValueError, match="illegal query field value"):
        db.rule_group(0, 10, {"r": {"pattern": ["a", 42], "threshold": 1.0}})


def test_bad_read_requests_raise_before_reading_the_manifest(spark, tmp_path, monkeypatch):
    """fetch / fetch_multi / rule_group check the request (range, batch,
    rules) in their shared preamble before the store is touched: a bad
    request costs zero manifest reads and plans no scan."""
    from kadiyadb_spark.manifest import GenLog
    from kadiyadb_spark.query import InvalidTimeRange

    db = Database.open(spark, str(tmp_path / "pre"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    reads = []
    read = GenLog.read
    monkeypatch.setattr(GenLog, "read", lambda self, *a, **k: reads.append(1) or read(self, *a, **k))
    with pytest.raises(InvalidTimeRange):
        db.fetch(5, 2, ["a", "b"])
    with pytest.raises(InvalidTimeRange):
        db.fetch(-1, 2, ["a", "b"])
    with pytest.raises(InvalidTimeRange):
        db.fetch_multi(5, 2, {"q": ["a", "*"]})
    with pytest.raises(ValueError, match="empty pattern batch"):
        db.fetch_multi(0, 5, {})
    with pytest.raises(ValueError, match="empty rule group"):
        db.rule_group(0, 5, {})
    with pytest.raises(InvalidTimeRange):
        db.rule_group(5, 2, {"r": {"pattern": ["a", "*"], "threshold": 1.0}})
    # a rule without a pattern is a ValueError naming the rule, not a KeyError
    with pytest.raises(ValueError, match="'r'.*pattern"):
        db.rule_group(0, 5, {"r": {"threshold": 1.0}})
    assert reads == []
    # a good request reads the manifest once
    db.fetch(0, 5, ["a", "b"])
    assert len(reads) == 1


def test_clone_refuses_partial_target(spark, tmp_path):
    """code-review r12: a prior clone that crashed mid-copy left segment
    dirs with no manifest; retrying over them would NEST directories
    (FileUtil.copy copies INTO an existing dst) — the retry must refuse."""
    src = Database.open(spark, str(tmp_path / "csrc"), P)
    src.track(_events(spark, [(0, "a", "b", 5.0)]), total_col="v")
    dst_path = str(tmp_path / "cdst")
    # simulate the torn first attempt: params + one copied segment dir,
    # no manifest
    ref = next(iter(src._manifest()["segments"].values()))[0]
    dst_stub = Database.open(spark, dst_path, P)
    src.fs.copy(
        HadoopFS.join(src.cube_path, ref), HadoopFS.join(dst_stub.cube_path, ref)
    )
    with pytest.raises(ValueError, match="crashed mid-copy"):
        src.clone(dst_path)


def test_rotation_gc_reclaims_dereferenced_segments(spark, tmp_path):
    """code-review r12: a segment de-referenced by compact stays on disk
    while retained manifests reference it (pinned reads), and is DELETED
    once its last retaining manifest rotates out — previously nothing but
    vacuum() ever reclaimed it (unbounded leak under per-batch
    merge_replace/compact cadences)."""
    db = Database.open(spark, str(tmp_path / "rot"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    old_refs = [r for refs in db._manifest()["segments"].values() for r in refs]
    db.track(_events(spark, [(1, "a", "b", 2.0)]), total_col="v")
    db.compact()  # folds, de-references the two track segments
    for r in old_refs:  # retained manifests still pin them
        assert db.fs.exists(HadoopFS.join(db.cube_path, r)), r
    # two more commits rotate the pre-compact manifests out (keep=3)
    db.track(_events(spark, [(2, "a", "b", 3.0)]), total_col="v")
    db.track(_events(spark, [(3, "a", "b", 4.0)]), total_col="v")
    for r in old_refs:
        assert not db.fs.exists(HadoopFS.join(db.cube_path, r)), (
            f"{r} leaked past its last retaining manifest"
        )
    # the data itself is intact through the folds
    assert _pts(db.fetch(0, 5, ["a", "b"], densify=False)) == [
        (0, ("a", "b"), 0, 1.0, 1.0),
        (0, ("a", "b"), 1, 2.0, 1.0),
        (0, ("a", "b"), 2, 3.0, 1.0),
        (0, ("a", "b"), 3, 4.0, 1.0),
    ]


def test_rotation_gc_off_preserves_until_vacuum(spark, tmp_path):
    """ADVICE r12: rotation GC narrows the read-pin lifetime to ~(keep-1)
    commits, which a fast-committing stream can burn under a long analytic
    read. rotation_gc=False restores the pre-r12 lifetime — de-referenced
    segments survive any number of commits until an explicit vacuum()."""
    db = Database.open(spark, str(tmp_path / "rotoff"), P, rotation_gc=False)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    old_refs = [r for refs in db._manifest()["segments"].values() for r in refs]
    db.track(_events(spark, [(1, "a", "b", 2.0)]), total_col="v")
    db.compact()
    for _ in range(3):  # enough commits to rotate every pre-compact manifest out
        db.track(_events(spark, [(2, "a", "b", 1.0)]), total_col="v")
    for r in old_refs:
        assert db.fs.exists(HadoopFS.join(db.cube_path, r)), (
            f"{r} deleted despite rotation_gc=False"
        )
    db.vacuum()
    for r in old_refs:
        assert not db.fs.exists(HadoopFS.join(db.cube_path, r)), r


def test_re_prune_matches_java_line_terminator_dollar(spark, tmp_path):
    """code-review r12: Java's anchored rlike '$' also matches just before
    one FINAL line terminator; the Python stats-prune replay must not skip
    a segment the JVM filter would keep for a value like 'abc\\n'."""
    from kadiyadb_spark.query import Re

    db = Database.open(spark, str(tmp_path / "relt"), P)
    db.track(_events(spark, [(0, "abc\n", "u", 7.0)]), total_col="v")
    got = db.fetch(0, 5, [Re("abc"), "*"], densify=False).collect()
    assert len(got) >= 1 and got[0]["total"] == 7.0


def test_manifest_cache_sees_commits_from_another_handle(spark, tmp_path):
    """Manifest bodies are cached per (name, length, mtime) of the listing;
    a commit through ANOTHER handle on the same path is a new name there,
    so the first handle's next fetch sees it."""
    path = str(tmp_path / "db")
    a = Database.open(spark, path, P)
    a.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    assert _pts(a.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 1.0, 1.0)]
    b = Database.open(spark, path)
    b.track(_events(spark, [(0, "a", "b", 2.0)]), total_col="v")
    assert a.current_gen() == b.current_gen()
    assert _pts(a.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 3.0, 2.0)]


def test_manifest_cache_serves_unchanged_heads_without_reading(spark, tmp_path, monkeypatch):
    """A commit seeds its handle's cache, and an unchanged head is read
    from the filesystem at most once per handle."""
    path = str(tmp_path / "db")
    db = Database.open(spark, path, P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    other = Database.open(spark, path)
    reads = []
    read_text = HadoopFS.read_text
    monkeypatch.setattr(
        HadoopFS, "read_text", lambda self, p: reads.append(p) or read_text(self, p)
    )
    db._manifest()
    db._manifest()
    assert reads == []
    other._manifest()
    other._manifest()
    assert len(reads) == 1


def test_manifest_reads_are_fresh_copies(spark, tmp_path):
    """track and commit_cube_batch mutate the manifest they read; a cached
    body must never carry those edits into the next read."""
    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "a", "b", 1.0)]), total_col="v")
    m = db._manifest()
    m["segments"][0].append("segs/bogus/epoch_p=0")
    m["hwm"]["s"] = 7
    raw = db._genlog.read()
    raw["stats"].clear()
    again = db._manifest()
    assert "segs/bogus/epoch_p=0" not in again["segments"][0]
    assert again["hwm"] == {}
    assert again["stats"] != {}
    assert _pts(db.fetch(0, 1, ["a", "b"])) == [(0, ("a", "b"), 0, 1.0, 1.0)]


def test_expire_then_track_reads_through_the_cache(spark, tmp_path):
    """expire commits with keep=1 (the retained window collapses to the
    new head); the next track must read that head and append to it."""
    path = str(tmp_path / "db")
    db = Database.open(spark, path, P)
    db.track(_events(spark, [(0, "a", "b", 1.0), (7, "a", "b", 2.0)]), total_col="v")
    db.track(_events(spark, [(7, "a", "b", 3.0)]), total_col="v")
    assert db.expire(before_ts=5) == [0]
    assert db.generations() == [db.current_gen()]
    db.track(_events(spark, [(8, "a", "b", 4.0)]), total_col="v")
    want = [(5, ("a", "b"), 7, 5.0, 2.0), (5, ("a", "b"), 8, 4.0, 1.0)]
    assert _pts(db.fetch(0, 10, ["a", "b"], densify=False)) == want
    assert _pts(Database.open(spark, path).fetch(0, 10, ["a", "b"], densify=False)) == want


def test_manifest_cache_concurrent_readers_see_whole_commits(spark, tmp_path):
    """One writer commits while more reader threads than cores read through
    ONE GenLog: every read is a whole committed body (its payload matches
    its generation), no reader sees the head go backwards, and a reader's
    edit to its copy never reaches the cache."""
    import sys
    import threading

    from kadiyadb_spark.manifest import GenLog

    log = GenLog(spark, str(tmp_path / "log"))
    gen = log.commit({"payload": 0}, -1)
    stop = threading.Event()
    bad = []

    def reader():
        last = -1
        while not stop.is_set():
            m = log.read()
            if m["payload"] != m["gen"] or m["gen"] < last:
                bad.append(m)
            last = m["gen"]
            m["payload"] = -7

    threads = [threading.Thread(target=reader) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for _ in range(15):
            gen = log.commit({"payload": gen + 1}, gen)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    assert log.read() == {"payload": gen, "gen": gen}


# -- driver-side fetch: matcher, read report, fallback edges -----------------

_REPORT_LOGGER = "kadiyadb_spark.database"


def _report(caplog, op):
    """Path and counts of the last read report ``op`` logged."""
    import re

    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.name == _REPORT_LOGGER and r.getMessage().startswith(op + " ")
    ]
    assert msgs, f"no {op} read report"
    m = re.match(
        r"\S+ path=(\w+)(?: reason='([^']*)')? segments=(\d+) in_range=(\d+) "
        r"kept=(\d+) files=(\S+) bytes=(\S+)$",
        msgs[-1],
    )
    assert m, msgs[-1]
    path, reason, segments, in_range, kept, files, nbytes = m.groups()
    return {"path": path, "reason": reason, "kept": int(kept), "files": files, "bytes": nbytes}


def test_jmatch_equals_spark_rlike_on_line_terminators(spark):
    """The one Java-anchored matcher (stats pruning and the driver-side Re
    filter) agrees with Spark's ``rlike('^(?:p)$')`` for whitelisted
    patterns, on plain values and on values ending in each of Java's line
    terminators, where Java's '$' and '.' differ from Python's."""
    from pyspark.sql import functions as F

    from kadiyadb_spark.database import _jmatch, _re_prune_safe

    pats = ["click", "cl.*", "a.", "a$", "a$|b", "(?:cl|fl)ick", "x[^a]", "a.{1,2}", "[a-c]+", "a?$"]
    assert all(_re_prune_safe(p) for p in pats)
    ends = ["", "\n", "\r\n", "\r", "\u0085", " ", " ", " ", "\n\n", "\r\r"]
    vals = sorted({b + e for b in ("click", "flick", "a", "ab", "x", "xb", "abc", "") for e in ends})
    df = spark.createDataFrame(list(enumerate(vals)), "i int, v string")
    rows = df.select(
        "i", *[F.col("v").rlike(f"^(?:{p})$").alias(f"m{k}") for k, p in enumerate(pats)]
    ).collect()
    assert len(rows) == len(vals)
    for r in rows:
        v = vals[r["i"]]
        for k, p in enumerate(pats):
            assert _jmatch(p, v) == r[f"m{k}"], (p, v)


def test_re_prune_whitelist_refuses_dialect_ambiguous_classes_and_braces():
    """A class opening with ']' and a '{' that opens no well-formed
    quantifier end or parse differently in Java and Python, so neither
    pruning nor the driver-side filter acts on them."""
    from kadiyadb_spark.database import _re_prune_safe

    for pat in ("[]a]", "[^]a]", "a{", "a{,2}", "a{x}"):
        assert not _re_prune_safe(pat), pat
    for pat in ("a{2}", "a{1,}", "a{1,3}", "[a-c]x", "[^a]"):
        assert _re_prune_safe(pat), pat


def test_read_report_names_the_path_and_kept_segments(spark, tmp_path, caplog, monkeypatch):
    """Each fetch/fetch_multi logs one DEBUG read report: which executor
    served it (and for Spark, why), and the segments kept, which equal
    ``_segment_paths`` for the same arguments."""
    import logging

    from kadiyadb_spark.query import _slot_range

    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "click", "u1", 5.0), (7, "click", "u2", 2.0)]), total_col="v")
    db.track(_events(spark, [(1, "view", "u1", 3.0)]), total_col="v")
    rng = _slot_range(0, 10, P.resolution, P.duration)
    m = db._manifest()
    kept = len(db._segment_paths(m, rng.epochs, prune_any=[["click", "*"]]))
    assert 0 < kept < 3  # stats pruning dropped the view-only segment
    with caplog.at_level(logging.DEBUG, logger=_REPORT_LOGGER):
        got = _pts(db.fetch(0, 10, ["click", "*"]))
        rep = _report(caplog, "fetch")
        assert rep["path"] == "arrow" and rep["reason"] is None
        assert rep["kept"] == kept and int(rep["files"]) >= kept and int(rep["bytes"]) > 0
        db.fetch_multi(0, 10, {"c": ["click", "*"], "v": ["view", "*"]}).collect()
        rep = _report(caplog, "fetch_multi")
        both = db._segment_paths(m, rng.epochs, prune_any=[["click", "*"], ["view", "*"]])
        assert rep["path"] == "arrow" and rep["kept"] == len(both) == 3
        monkeypatch.setattr("kadiyadb_spark.database._DRIVER_READ_MAX_BYTES", 0)
        assert _pts(db.fetch(0, 10, ["click", "*"])) == got
        rep = _report(caplog, "fetch")
        assert rep["path"] == "spark" and "bytes" in rep["reason"] and rep["kept"] == kept


def _drift_total_to_float32(db):
    """Rewrite one segment file of ``db`` with a float32 ``total`` — a
    physical type Spark's pinned read widens but cube_schema does not
    name — and drop its checksum file so the local FS accepts it."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = sorted(glob.glob(f"{db.cube_path}/segs/*/epoch_p=*/part-*.parquet"))[0]
    t = pq.read_table(f)
    i = t.schema.get_field_index("total")
    pq.write_table(t.set_column(i, "total", t["total"].cast(pa.float32())), f)
    os.remove(os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc"))


@pytest.mark.parametrize(
    "case, reason",
    [
        ("drifted_physical_type", "schema"),
        ("regex_outside_whitelist", "regex"),
    ],
)
def test_driver_fetch_fallback_edges_are_served_by_spark(
    spark, tmp_path, caplog, monkeypatch, case, reason
):
    """Reads the driver path cannot answer bit for bit go to Spark, and
    return exactly the Spark path's rows."""
    import logging

    from kadiyadb_spark.query import Re

    db = Database.open(spark, str(tmp_path / "db"), P)
    db.track(_events(spark, [(0, "ab", "u1", 1.25), (3, "ab", "u2", 2.5)]), total_col="v")
    db.track(_events(spark, [(0, "ab", "u1", 0.5)]), total_col="v")
    if case == "drifted_physical_type":
        _drift_total_to_float32(db)
    pattern = [Re("\\w+"), "*"] if case == "regex_outside_whitelist" else ["ab", "*"]
    with caplog.at_level(logging.DEBUG, logger=_REPORT_LOGGER):
        got = _pts(db.fetch(0, 5, pattern))
    rep = _report(caplog, "fetch")
    assert rep["path"] == "spark" and reason in rep["reason"], rep
    monkeypatch.setattr("kadiyadb_spark.database._DRIVER_READ_MAX_BYTES", 0)
    want = _pts(db.fetch(0, 5, pattern))
    assert got == want
    assert (0, ("ab", "u1"), 0, 1.75, 2.0) in got
