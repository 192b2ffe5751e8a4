"""Core Track/Fetch semantics — ports the reference goldens (FIXTURES.md A2-A5):

- A2 write-time prefix rollup   (epoch/epoch_test.go:79-193, TestTrackValue)
- A3 exact-depth wildcards      (epoch/epoch_test.go:200-295, TestFetchSlow)
- A4 zero-fill + boundaries     (database_test.go:136-368)
- A5 illegal field values       (index/node_test.go:5-35)

Unit conventions: resolution=1, duration=5 (rsize=5) in abstract ns so slot
index == timestamp; all comparisons order-insensitive (fine-print #8).
"""

import pytest
from pyspark.sql import Row

from kadiyadb_spark.ingest import track_batch, validate_fields_df
from kadiyadb_spark.query import InvalidTimeRange, fetch, rollup_at_read

RES, DUR = 1, 5


def _events(spark, rows):
    """rows: (ts, a, b, c, total, count)"""
    return spark.createDataFrame(
        [Row(ts=r[0], x=r[1], y=r[2], z=r[3], v=float(r[4]), c=float(r[5])) for r in rows]
    )


def _cube(spark, rows, rollup=True):
    return track_batch(
        _events(spark, rows),
        fields=["x", "y", "z"],
        ts_col="ts",
        total_col="v",
        count_col="c",
        resolution=RES,
        duration=DUR,
        rollup=rollup,
    )


@pytest.fixture(scope="module")
def rollup_cube(spark):
    # A2: abc->(1,1), abd->(2,2), ace->(3,3), each tracked at slots 0..4
    rows = []
    for slot in range(5):
        rows += [
            (slot, "a", "b", "c", 1, 1),
            (slot, "a", "b", "d", 2, 2),
            (slot, "a", "c", "e", 3, 3),
        ]
    return _cube(spark, rows).cache()


def _points(df):
    """-> {fields tuple: sorted [(bucket, total, cnt), ...]}"""
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = tuple(v for k, v in sorted(d.items()) if k.startswith("f") and v is not None)
        out.setdefault(key, []).append((d["bucket"], d["total"], d["cnt"]))
    return {k: sorted(v) for k, v in out.items()}


# ---------------------------------------------------------------- A2 rollup
@pytest.mark.parametrize(
    "pattern,expect",
    [
        (["a"], {("a",): (6.0, 6.0)}),
        (["a", "b"], {("a", "b"): (3.0, 3.0)}),
        (["a", "b", "c"], {("a", "b", "c"): (1.0, 1.0)}),
        (["a", "b", "d"], {("a", "b", "d"): (2.0, 2.0)}),
        (["a", "c"], {("a", "c"): (3.0, 3.0)}),
        (["a", "c", "e"], {("a", "c", "e"): (3.0, 3.0)}),
    ],
)
def test_write_time_rollup_goldens(rollup_cube, pattern, expect):
    got = _points(fetch(rollup_cube, 0, 5, pattern, RES, DUR))
    assert set(got) == set(expect)
    for key, (t, c) in expect.items():
        assert got[key] == [(slot, t, c) for slot in range(5)]


def test_exact_match_returns_at_most_one_series(rollup_cube):
    got = _points(fetch(rollup_cube, 0, 5, ["a", "b", "c"], RES, DUR))
    assert len(got) == 1


def test_missing_series_empty(rollup_cube):
    assert fetch(rollup_cube, 0, 5, ["zzz"], RES, DUR).count() == 0


# ------------------------------------------------------------- A3 wildcards
@pytest.fixture(scope="module")
def wild_cube(spark):
    rows = []
    for slot in range(5):
        rows += [
            (slot, "a", "b", "c", 1, 1),
            (slot, "a", "b", "d", 2, 2),
            (slot, "a", "e", "c", 3, 3),
        ]
    return _cube(spark, rows).cache()


@pytest.mark.parametrize(
    "pattern,keys",
    [
        (["a", "b", "*"], {("a", "b", "c"), ("a", "b", "d")}),
        (["a", "*", "c"], {("a", "b", "c"), ("a", "e", "c")}),
        (["a", "*", "*"], {("a", "b", "c"), ("a", "b", "d"), ("a", "e", "c")}),
    ],
)
def test_wildcard_goldens(wild_cube, pattern, keys):
    got = _points(fetch(wild_cube, 0, 5, pattern, RES, DUR))
    assert set(got) == keys


def test_wildcard_exact_depth_only(wild_cube):
    # ["a","*"] matches depth-2 prefixes only, never depth-3 series or ["a"]
    got = _points(fetch(wild_cube, 0, 5, ["a", "*"], RES, DUR))
    assert set(got) == {("a", "b"), ("a", "e")}


# ------------------------------------------------- A4 zero-fill + boundaries
def test_fetch_simple_half_open(spark):
    cube = _cube(spark, [(0, "a", "b", "d", 5, 1), (1, "a", "b", "d", 5, 2)])
    got = _points(fetch(cube, 0, 2, ["a", "b", "d"], RES, DUR))
    assert got == {("a", "b", "d"): [(0, 5.0, 1.0), (1, 5.0, 2.0)]}
    # [0, 1) excludes slot 1
    got = _points(fetch(cube, 0, 1, ["a", "b", "d"], RES, DUR))
    assert got == {("a", "b", "d"): [(0, 5.0, 1.0)]}


def test_fetch_multi_series_zero_fill(spark):
    cube = _cube(spark, [(0, "a", "b", "c", 5, 1), (1, "a", "b", "d", 5, 2)])
    got = _points(fetch(cube, 0, 2, ["a", "b", "*"], RES, DUR))
    assert got == {
        ("a", "b", "c"): [(0, 5.0, 1.0), (1, 0.0, 0.0)],
        ("a", "b", "d"): [(0, 0.0, 0.0), (1, 5.0, 2.0)],
    }


def test_fetch_epoch_boundary_two_epochs(spark):
    # points at t=DUR-1 and t=DUR; fetch [DUR-1, DUR+1) -> 2 rows in 2 epochs
    cube = _cube(spark, [(DUR - 1, "a", "b", "c", 5, 1), (DUR, "a", "b", "c", 5, 2)])
    rows = fetch(cube, DUR - 1, DUR + 1, ["a", "b", "c"], RES, DUR).collect()
    assert {(r["epoch"], r["bucket"], r["total"], r["cnt"]) for r in rows} == {
        (0, DUR - 1, 5.0, 1.0),
        (DUR, DUR, 5.0, 2.0),
    }


def test_per_epoch_series_membership(spark):
    # series exists only in epoch 0; a fetch spanning epochs 0+1 must not
    # zero-fill buckets of epoch 1 (chunk membership is per-epoch)
    cube = _cube(spark, [(0, "a", "b", "c", 5, 1)])
    rows = fetch(cube, 0, 2 * DUR, ["a", "b", "c"], RES, DUR).collect()
    assert len(rows) == DUR  # only epoch 0's 5 slots
    assert all(r["epoch"] == 0 for r in rows)


def test_non_aligned_range_floors_to(spark):
    # Reference floors BOTH ends (database.go:267-277: pos1=floor((to-ets)/res),
    # scan [pos0, pos1)), so a `to` inside a slot EXCLUDES the partial slot.
    res, dur = 60, 300
    events = _events(spark, [(0, "a", "b", "c", 5, 1), (60, "a", "b", "c", 7, 1)])
    cube = track_batch(
        events, fields=["x", "y", "z"], ts_col="ts", total_col="v",
        count_col="c", resolution=res, duration=dur,
    )
    # fetch(0, 90): slot 1 starts at 60 but to=90 floors to 60 -> only slot 0
    got = _points(fetch(cube, 0, 90, ["a", "b", "c"], res, dur))
    assert got == {("a", "b", "c"): [(0, 5.0, 1.0)]}
    # fetch(90, 90): from == to mid-slot -> empty (fine-print #4)
    assert fetch(cube, 90, 90, ["a", "b", "c"], res, dur).count() == 0
    # fetch(30, 70): both ends floor -> only slot 0 (from floors to 0, to to 60)
    got = _points(fetch(cube, 30, 70, ["a", "b", "c"], res, dur))
    assert got == {("a", "b", "c"): [(0, 5.0, 1.0)]}
    # fetch(0, 120): exactly two slots
    got = _points(fetch(cube, 0, 120, ["a", "b", "c"], res, dur))
    assert got == {("a", "b", "c"): [(0, 5.0, 1.0), (60, 7.0, 1.0)]}
    # fetch(30, 50): both inside slot 0 -> floors to [0, 0) -> empty
    assert fetch(cube, 30, 50, ["a", "b", "c"], res, dur).count() == 0


def test_degenerate_ranges(spark):
    cube = _cube(spark, [(0, "a", "b", "c", 5, 1)])
    with pytest.raises(InvalidTimeRange):
        fetch(cube, 2, 1, ["a"], RES, DUR)
    assert fetch(cube, 1, 1, ["a"], RES, DUR).count() == 0
    with pytest.raises(InvalidTimeRange):
        fetch(cube, -1, 1, ["a"], RES, DUR)


# ----------------------------------------------------------- A5 validation
def test_illegal_query_values(rollup_cube):
    with pytest.raises(ValueError):
        fetch(rollup_cube, 0, 5, ["a", ""], RES, DUR)
    with pytest.raises(ValueError):
        fetch(rollup_cube, 0, 5, [], RES, DUR)


def test_illegal_stored_values_filtered(spark):
    df = _events(spark, [(0, "a", "b", "c", 1, 1), (0, "", "b", "c", 1, 1), (0, "a", "*", "c", 1, 1)])
    ok = validate_fields_df(df, ["x", "y", "z"])
    assert ok.count() == 1


def test_write_path_rejects_illegal_values_by_default(spark):
    # reference rejects ""/"*" stored values UNCONDITIONALLY on write
    # (index/node.go:200-214); track_batch must not need opt-in
    rows = [(0, "a", "b", "c", 1, 1), (0, "", "b", "c", 9, 9), (0, "a", "*", "c", 9, 9)]
    cube = _cube(spark, rows)
    got = _points(fetch(cube, 0, 1, ["a", "b", "c"], RES, DUR))
    assert got == {("a", "b", "c"): [(0, 1.0, 1.0)]}  # poison rows never became series
    # and the poison rows' values must not leak into prefix rollups either
    got = _points(fetch(cube, 0, 1, ["a"], RES, DUR))
    assert got == {("a",): [(0, 1.0, 1.0)]}


def test_write_path_negative_ts_errors(spark):
    # ErrInvTime (database.go:156-158): negative ts aborts the write, it does
    # not silently floor into a negative bucket
    cube = _cube(spark, [(-1, "a", "b", "c", 1, 1)])
    with pytest.raises(Exception, match="ErrInvTime"):
        cube.collect()


# ------------------------------------------- rollup equivalence (fine-print #7)
def test_write_time_equals_read_time_rollup(spark):
    rows = []
    for slot in range(5):
        rows += [
            (slot, "a", "b", "c", 1, 1),
            (slot, "a", "b", "d", 2, 2),
            (slot, "a", "c", "e", 3, 3),
        ]
    wt = _cube(spark, rows, rollup=True)
    flat = _cube(spark, rows, rollup=False)
    for depth, pattern in [(1, ["a"]), (2, ["a", "b"]), (2, ["a", "c"])]:
        via_write = _points(fetch(wt, 0, 5, pattern, RES, DUR))
        rt = rollup_at_read(flat, to_depth=depth, max_depth=3)
        via_read = _points(fetch(rt, 0, 5, pattern, RES, DUR))
        assert via_write == via_read


def test_write_path_null_ts_rows_are_dropped(spark):
    # NULL event time is unrepresentable in the reference (uint64 ts); the
    # row is dropped rather than becoming a poison null-bucket series
    from pyspark.sql import Row

    from kadiyadb_spark import track_batch

    df = spark.createDataFrame(
        [Row(ts=None, x="a", y="b", v=5.0), Row(ts=0, x="a", y="b", v=1.0)],
        "ts long, x string, y string, v double",
    )
    cube = track_batch(df, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5)
    rows = cube.collect()
    assert all(r["bucket"] is not None for r in rows)
    # the null row's value leaked nowhere (depth-1 rollup total is 1.0 only)
    assert {r["total"] for r in rows} == {1.0}


def test_densify_wide_range_fine_resolution_is_map_side(spark):
    """A wide fetch at fine resolution must densify WITHOUT materializing a
    range-sized bucket axis: the slot fan-out is a per-(epoch, series)
    explode, so memory is bounded by slots-per-epoch. 3 days at 1-unit
    resolution with 3600-unit epochs = 259,200 slots from one stored point."""
    from pyspark.sql import Row

    from kadiyadb_spark import track_batch

    res, dur = 1, 3600
    span = 3 * 24 * 3600  # 259,200 slots
    df = spark.createDataFrame([Row(ts=10, x="a", v=2.0)])
    cube = track_batch(df, fields=["x"], ts_col="ts", total_col="v", resolution=res, duration=dur)
    dense = fetch(cube, 0, span, ["a"], resolution=res, duration=dur)
    # series exists only in epoch 0 -> dense over that epoch's slots alone
    assert dense.count() == dur // res
    hit = dense.filter("bucket = 10").collect()
    assert [(r["total"], r["cnt"]) for r in hit] == [(2.0, 1.0)]
    assert dense.filter("total != 0").count() == 1
    # the plan fans out via explode(sequence(...)), never an axis join:
    # no range/axis leaf other than the cube source
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dense.explain("formatted")
    plan = buf.getvalue()
    assert "Generate" in plan and "Range" not in plan


def test_write_path_unparseable_string_ts_rows_are_dropped(spark):
    """String event time that fails ISO parsing normalizes to NULL and is
    dropped like a null — never an 'ErrInvTime: negative timestamp' abort
    (the filter runs on the CONVERTED expression)."""
    from pyspark.sql import Row

    from kadiyadb_spark import track_batch

    df = spark.createDataFrame(
        [
            Row(ts="not a timestamp", x="a", y="b", v=5.0),
            Row(ts="1970-01-01T00:00:00", x="a", y="b", v=1.0),
        ],
        "ts string, x string, y string, v double",
    )
    cube = track_batch(df, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5)
    rows = cube.collect()
    assert rows and all(r["bucket"] is not None for r in rows)
    assert {r["total"] for r in rows} == {1.0}  # the bad row's value leaked nowhere


def test_series_delta_and_interpolation_goldens(spark):
    """Hand-computed: series a has slots [10, 0(gap), 0(gap), 40]; deltas
    difference CONSECUTIVE slots; interpolation draws the line across the
    interior gaps; leading/trailing gaps keep zero-fill."""
    from pyspark.sql import Row

    from kadiyadb_spark.query import interpolate_series, series_delta

    rows = [
        Row(f1="a", bucket=0, total=10.0, cnt=1.0),
        Row(f1="a", bucket=60, total=0.0, cnt=0.0),
        Row(f1="a", bucket=120, total=0.0, cnt=0.0),
        Row(f1="a", bucket=180, total=40.0, cnt=2.0),
        Row(f1="b", bucket=0, total=0.0, cnt=0.0),   # leading gap
        Row(f1="b", bucket=60, total=6.0, cnt=1.0),
        Row(f1="b", bucket=120, total=0.0, cnt=0.0),  # trailing gap
    ]
    df = spark.createDataFrame(rows)
    d = {(r.f1, r.bucket): (r.delta, r.rate_per_sec)
         for r in series_delta(df, ["f1"], resolution=60 * 10**9).collect()}
    assert d[("a", 0)] == (None, None)
    assert d[("a", 60)] == (-10.0, round(-10.0 / 60, 4))
    assert d[("a", 180)] == (40.0, round(40.0 / 60, 4))
    i = {(r.f1, r.bucket): (r.interpolated, r.was_gap)
         for r in interpolate_series(df, ["f1"]).collect()}
    assert i[("a", 0)] == (10.0, False)
    assert i[("a", 60)] == (20.0, True)   # 10 + (40-10) * 1/3
    assert i[("a", 120)] == (30.0, True)  # 10 + (40-10) * 2/3
    assert i[("a", 180)] == (40.0, False)
    assert i[("b", 0)] == (0.0, True)     # leading gap: zero-fill kept
    assert i[("b", 120)] == (0.0, True)   # trailing gap: zero-fill kept


def test_series_ratio_aligns_and_nulls_zero_denominator(spark):
    from kadiyadb_spark.query import series_ratio

    rows = [
        (0, "err", "x", "y", 1, 1),
        (0, "clk", "x", "y", 4, 4),   # slot 0: 1/4
        (1, "clk", "x", "y", 5, 5),   # slot 1: no errors -> num null, ratio null
        (2, "err", "x", "y", 2, 2),   # slot 2: no clicks -> den null, ratio null
    ]
    cube = _cube(spark, rows)
    got = {
        r["bucket"]: (r["num_total"], r["den_total"], r["ratio"])
        for r in series_ratio(cube, 0, 5, ["err"], ["clk"], resolution=RES).collect()
    }
    assert got == {
        0: (1.0, 4.0, 0.25),
        1: (None, 5.0, None),
        2: (2.0, None, None),
    }


def test_series_ratio_rejects_wildcards_and_depth_mismatch(spark):
    from kadiyadb_spark.query import series_ratio

    cube = _cube(spark, [(0, "a", "b", "c", 1, 1)])
    with pytest.raises(ValueError, match="exact"):
        series_ratio(cube, 0, 5, ["a", "*"], ["a", "b"], resolution=RES)
    with pytest.raises(ValueError, match="depth"):
        series_ratio(cube, 0, 5, ["a"], ["a", "b"], resolution=RES)


def test_series_ratio_wildcard_aligns_per_fanout_series(spark):
    """errors{*}/clicks{*}: each wildcard value is its own aligned pair —
    y1's ratio never mixes with y2's, one-sided groups keep nulls."""
    from kadiyadb_spark.query import series_ratio_wildcard

    # depth-2 prefix rows (write-time rollup over z) hold the values the
    # depth-2 patterns read — same surface a user fans out over
    rows = [
        (0, "err", "y1", "z", 1, 1),
        (0, "clk", "y1", "z", 4, 4),   # (y1, slot0): 1/4
        (0, "err", "y2", "z", 3, 3),
        (0, "clk", "y2", "z", 6, 6),   # (y2, slot0): 3/6
        (1, "clk", "y1", "z", 5, 5),   # (y1, slot1): no errors -> null ratio
        (1, "err", "y2", "z", 2, 2),   # (y2, slot1): no clicks -> null ratio
    ]
    cube = _cube(spark, rows)
    got = {
        (r["f2"], r["bucket"]): (r["num_total"], r["den_total"], r["ratio"])
        for r in series_ratio_wildcard(
            cube, 0, 5, ["err", "*"], ["clk", "*"], resolution=RES
        ).collect()
    }
    assert got == {
        ("y1", 0): (1.0, 4.0, 0.25),
        ("y2", 0): (3.0, 6.0, 0.5),
        ("y1", 1): (None, 5.0, None),
        ("y2", 1): (2.0, None, None),
    }


def test_series_ratio_wildcard_rejects_bad_patterns(spark):
    from kadiyadb_spark.query import series_ratio_wildcard

    cube = _cube(spark, [(0, "a", "b", "c", 1, 1)])
    with pytest.raises(ValueError, match="wildcard positions"):
        series_ratio_wildcard(cube, 0, 5, ["*", "b"], ["a", "*"], resolution=RES)
    with pytest.raises(ValueError, match="series_ratio"):
        series_ratio_wildcard(cube, 0, 5, ["a", "b"], ["a", "c"], resolution=RES)
    with pytest.raises(ValueError, match="depth"):
        series_ratio_wildcard(cube, 0, 5, ["a", "*"], ["a"], resolution=RES)


def test_series_sum_by_non_prefix_aggregation(spark):
    """sum by (f2): event types fan IN per user — totals across f1 for each
    (f2, slot); validation rejects empty/bad levels."""
    from kadiyadb_spark.query import series_sum_by

    rows = [
        (0, "err", "y1", "z", 1, 1),
        (0, "clk", "y1", "z", 4, 2),   # (y1, 0): 5 total, 3 cnt
        (0, "err", "y2", "z", 3, 1),   # (y2, 0): 3, 1
        (1, "clk", "y1", "z", 5, 1),   # (y1, 1): 5, 1
    ]
    cube = _cube(spark, rows)
    got = {
        (r["f2"], r["bucket"]): (r["total"], r["cnt"])
        for r in series_sum_by(cube, 0, 5, ["*", "*"], [2], resolution=RES).collect()
    }
    assert got == {("y1", 0): (5.0, 3.0), ("y2", 0): (3.0, 1.0), ("y1", 1): (5.0, 1.0)}
    with pytest.raises(ValueError, match="keep_levels"):
        series_sum_by(cube, 0, 5, ["*", "*"], [])
    with pytest.raises(ValueError, match="keep_levels"):
        series_sum_by(cube, 0, 5, ["*", "*"], [3])
    with pytest.raises(ValueError, match="keep_levels"):
        series_sum_by(cube, 0, 5, ["*", "*"], [2, 2])


def test_series_offset_day_over_day(spark):
    """offset comparison: slot vs same-series offset_slots earlier; leading
    slots and zero baselines keep nulls."""
    from kadiyadb_spark.query import series_offset

    rows = [Row(f1="a", f2="y", bucket=b, total=float(v))
            for b, v in [(0, 2.0), (1, 0.0), (2, 3.0), (3, 4.0)]]
    df = spark.createDataFrame(rows)
    got = {r["bucket"]: (r["baseline"], r["offset_delta"], r["offset_ratio"])
           for r in series_offset(df, ["f1", "f2"], 2).collect()}
    assert got[0] == (None, None, None)
    assert got[1] == (None, None, None)
    assert got[2] == (2.0, 1.0, 1.5)
    assert got[3] == (0.0, 4.0, None)  # zero baseline -> null ratio
    with pytest.raises(ValueError, match="offset_slots"):
        series_offset(df, ["f1", "f2"], 0)


def test_fetch_value_set_matcher(spark):
    """IN matcher: [{click,error}, *] equals the UNION of the two exact
    fetches (same dense zero-fill, one scan); validation rejects empty
    sets, '' members and '*'-in-set."""
    from kadiyadb_spark.query import compile_pattern, fetch

    rows = [
        (0, "click", "u1", "z", 2, 1),
        (1, "error", "u2", "z", 3, 1),
        (2, "view", "u1", "z", 5, 1),  # excluded by the matcher
    ]
    cube = _cube(spark, rows)

    def key(r):
        return (r["f1"], r["f2"], r["bucket"], r["total"], r["cnt"])

    got = sorted(
        map(key, fetch(cube, 0, 5, [["click", "error"], "*"], RES, DUR).collect())
    )
    want = sorted(
        map(key, fetch(cube, 0, 5, ["click", "*"], RES, DUR).collect())
    ) + sorted(map(key, fetch(cube, 0, 5, ["error", "*"], RES, DUR).collect()))
    assert got == sorted(want) and len(got) > 0
    assert not any(f1 == "view" for f1, *_ in got)
    # normalization: order/duplicates don't matter; single-element set == exact
    _, p1 = compile_pattern([["error", "click", "click"], "*"])
    _, p2 = compile_pattern([["click", "error"], "*"])
    assert p1 == p2
    _, p3 = compile_pattern([["click"], "*"])
    assert p3 == [("f1", "click")]
    with pytest.raises(ValueError, match="empty value set"):
        compile_pattern([[], "*"])
    with pytest.raises(ValueError, match="illegal"):
        compile_pattern([["click", ""], "*"])
    with pytest.raises(ValueError, match="wildcard"):
        compile_pattern([["click", "*"], "*"])
    # the ratio operators demand scalar levels
    from kadiyadb_spark.query import series_ratio

    with pytest.raises(ValueError, match="scalar"):
        series_ratio(cube, 0, 5, [["a", "b"], "x", "y"], ["c", "x", "y"], resolution=RES)


def test_series_increase_counter_resets(spark):
    """PromQL increase(): a counter that goes 10 -> 25 -> 3 -> 8 yields
    deltas 15, then a RESET (the full new value 3 counts), then 5; the
    first slot has no baseline (null increase, cum 0)."""
    from pyspark.sql import functions as F

    from kadiyadb_spark.query import series_increase

    rows = [("m", b, t) for b, t in [(0, 10.0), (60, 25.0), (120, 3.0), (180, 8.0)]]
    df = spark.createDataFrame(rows, "f1 string, bucket long, total double")
    got = {r.bucket: r for r in series_increase(df, ["f1"]).collect()}
    assert got[0].increase is None and got[0].cum_increase == 0.0 and not got[0].reset
    assert got[60].increase == 15.0 and not got[60].reset
    assert got[120].increase == 3.0 and got[120].reset  # reset: full value counts
    assert got[180].increase == 5.0 and not got[180].reset
    assert got[180].cum_increase == 23.0  # 15 + 3 + 5


def test_histogram_quantile_prometheus_semantics(spark):
    """Known-answer checks: linear interpolation inside the selected
    bucket, 0 lower bound for the first bucket, +Inf bucket returns the
    highest finite bound, zero-total groups absent."""
    import math

    from kadiyadb_spark.query import histogram_quantile

    rows = [
        # group g1: buckets le=1 (4), le=5 (4), le=+inf (2); tot=10
        ("g1", 1.0, 4), ("g1", 5.0, 4), ("g1", float("inf"), 2),
        # group g2: everything in the +inf bucket -> quantile = highest
        # finite bound = 5.0 (the le=5 bucket exists but is empty... so
        # prev_le of inf is 5.0 even with cnt=0 there)
        ("g2", 5.0, 0), ("g2", float("inf"), 10),
    ]
    df = spark.createDataFrame(rows, "g string, le double, cnt long")
    got = {r.g: r for r in histogram_quantile(df, 0.5, ["g"]).collect()}
    # g1: target=5, first bucket with cum>=5 is le=5 (cum 8, prev_cum 4,
    # prev_le 1): q = 1 + (5-1)*(5-4)/4 = 2.0
    assert got["g1"].quantile == 2.0 and got["g1"].n_obs == 10
    # g2: target lands in +inf -> highest finite bound
    assert got["g2"].quantile == 5.0

    with_phi = histogram_quantile(df, 0.9, ["g"]).collect()
    g1 = [r for r in with_phi if r.g == "g1"][0]
    # target=9 -> +inf bucket -> 5.0
    assert g1.quantile == 5.0

    import pytest as _pt

    with _pt.raises(ValueError, match="phi"):
        histogram_quantile(df, 1.5, ["g"])


def test_series_predict_linear_known_line(spark):
    """Known-answer: totals on an exact line y = 2 + 0.5*x recover slope
    0.5/slot and extrapolate exactly; slots without a full window are null."""
    from kadiyadb_spark.query import series_predict_linear

    rows = [("m", b * 60, 2.0 + 0.5 * b) for b in range(10)]
    df = spark.createDataFrame(rows, "f1 string, bucket long, total double")
    got = {r.bucket // 60: r for r in series_predict_linear(
        df, ["f1"], window_slots=5, horizon_slots=4, resolution=60
    ).collect()}
    assert got[3].deriv_per_sec is None and got[3].predicted is None
    r = got[9]  # full window over x=5..9
    # slope 0.5 per slot over 60 ns -> per "second" at resolution=60: the
    # operator treats resolution in ns, so per_sec = 0.5 / (60/1e9)
    assert r.deriv_per_sec == round(0.5 / (60 / 1e9), 4)
    # prediction 4 slots past bucket 9: y = 2 + 0.5 * 13 = 8.5
    assert r.predicted == 8.5


def test_series_resets_changes_known(spark):
    """resets()/changes() over a 3-slot trailing window: 10,10,7,7,9 has
    one decrease (10->7) and two changes (10->7, 7->9); the first slot
    contributes no comparison. Frame of 3 slides both counts out."""
    from kadiyadb_spark.query import series_resets_changes

    vals = [(0, 10.0), (60, 10.0), (120, 7.0), (180, 7.0), (240, 9.0)]
    df = spark.createDataFrame(
        [("m", b, t) for b, t in vals], "f1 string, bucket long, total double"
    )
    got = {
        r.bucket: r
        for r in series_resets_changes(df, ["f1"], window_slots=3).collect()
    }
    assert (got[0].resets, got[0].changes) == (0, 0)
    assert (got[60].resets, got[60].changes) == (0, 0)  # 10 -> 10: no change
    assert (got[120].resets, got[120].changes) == (1, 1)  # the 10 -> 7 drop
    assert (got[180].resets, got[180].changes) == (1, 1)  # drop still in frame
    assert (got[240].resets, got[240].changes) == (1, 2)  # drop + 7 -> 9
    # one more slot and the drop leaves the 3-frame
    df2 = spark.createDataFrame(
        [("m", b, t) for b, t in vals + [(300, 9.0)]],
        "f1 string, bucket long, total double",
    )
    got2 = {
        r.bucket: r
        for r in series_resets_changes(df2, ["f1"], window_slots=3).collect()
    }
    assert (got2[300].resets, got2[300].changes) == (0, 1)

    import pytest as _pt

    with _pt.raises(ValueError, match="window_slots"):
        series_resets_changes(df, ["f1"], window_slots=0)


def test_series_gaps_islands(spark):
    """Gaps-and-islands over a dense frame: absent slots 1-2 and 5 form
    two runs with half-open bounds; a fully-present series yields no
    rows; runs never merge across series."""
    from kadiyadb_spark.query import series_gaps

    res = 60
    rows = [("a", i * res, 0.0 if i in (1, 2, 5) else 1.0) for i in range(7)]
    rows += [("b", i * res, 1.0) for i in range(7)]
    df = spark.createDataFrame(rows, "f1 string, bucket long, cnt double")
    got = sorted(
        series_gaps(df, ["f1"], resolution=res).collect(),
        key=lambda r: (r.f1, r.gap_start),
    )
    assert [(r.f1, r.gap_start, r.gap_end, r.n_slots) for r in got] == [
        ("a", 60, 180, 2),
        ("a", 300, 360, 1),
    ]


def test_series_holt_winters_tracks_a_line_exactly(spark):
    """Double exponential smoothing follows a perfect linear ramp with
    zero error (level = value, trend = slope); when the ramp plateaus the
    forecast overshoots and the trend decays. Hand-computed with the
    quantized-state rule (4dp longs, floor(x+0.5) per step)."""
    from kadiyadb_spark.query import series_holt_winters

    vals = [(0, 10.0), (60, 12.0), (120, 14.0), (180, 14.0)]
    df = spark.createDataFrame(
        [("m", b, t) for b, t in vals], "f1 string, bucket long, total double"
    )
    got = {
        r.bucket: r
        for r in series_holt_winters(df, ["f1"], sf=0.3, tf=0.1).collect()
    }
    assert [(got[b].smoothed, got[b].trend) for b in (0, 60, 120, 180)] == [
        (10.0, 2.0),   # s0 = y0, b0 = y1 - y0
        (12.0, 2.0),   # on the line: level exact, trend held
        (14.0, 2.0),
        (15.4, 1.94),  # plateau: 0.3*14 + 0.7*16 = 15.4; 0.1*1.4 + 0.9*2
    ]
    # single-point series: level = value, no trend
    one = spark.createDataFrame([("x", 0, 5.0)], "f1 string, bucket long, total double")
    r = series_holt_winters(one, ["f1"]).collect()[0]
    assert (r.smoothed, r.trend) == (5.0, 0.0)

    import pytest as _pt

    with _pt.raises(ValueError, match="factors"):
        series_holt_winters(df, ["f1"], sf=0.0)


def test_series_quantile_over_time_type7(spark):
    """Trailing p75 over 1..5 with a 4-slot frame, hand-computed type-7
    interpolation: partial frames at the series start use the points
    present; min/max ride the same frame."""
    from kadiyadb_spark.query import series_quantile_over_time

    df = spark.createDataFrame(
        [("m", i * 60, float(i + 1)) for i in range(5)],
        "f1 string, bucket long, total double",
    )
    got = {
        r.bucket: r
        for r in series_quantile_over_time(
            df, ["f1"], phi=0.75, window_slots=4
        ).collect()
    }
    assert [got[i * 60].quantile for i in range(5)] == [1.0, 1.75, 2.5, 3.25, 4.25]
    assert (got[240].min_total, got[240].max_total) == (2.0, 5.0)

    import pytest as _pt

    with _pt.raises(ValueError, match="phi"):
        series_quantile_over_time(df, ["f1"], phi=1.5, window_slots=4)


def test_series_seasonal_profile_minute_of_day(spark):
    """Two 'days' of a 3-slot period: slot-of-period folds values from
    both periods; exact mean, order-free min/max, census counts."""
    from kadiyadb_spark.query import series_seasonal_profile

    res = 60
    # period = 3 slots; day 1 values 1,2,3; day 2 values 3,4,5
    vals = [1.0, 2.0, 3.0, 3.0, 4.0, 5.0]
    df = spark.createDataFrame(
        [("m", i * res, v) for i, v in enumerate(vals)],
        "f1 string, bucket long, total double",
    )
    got = {
        r.slot_of_period: r
        for r in series_seasonal_profile(
            df, ["f1"], period_slots=3, resolution=res
        ).collect()
    }
    assert len(got) == 3
    assert (got[0].mean_total, got[0].min_total, got[0].max_total) == (2.0, 1.0, 3.0)
    assert (got[1].mean_total, got[1].min_total, got[1].max_total) == (3.0, 2.0, 4.0)
    assert (got[2].mean_total, got[2].min_total, got[2].max_total) == (4.0, 3.0, 5.0)
    assert all(got[s].n_periods == 2 for s in got)

    import pytest as _pt

    with _pt.raises(ValueError, match="period_slots"):
        series_seasonal_profile(df, ["f1"], period_slots=0)


def test_series_binop_all_ops(spark):
    """add/sub exact integer; mul one scaled product; div mirrors
    series_ratio; null where either side is absent in the slot."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_binop

    ev = spark.createDataFrame(
        [
            # slot 0: a=4, b=2; slot 1: a=3 only; slot 2: b=5 only
            (0, "a", 4.0), (0, "b", 2.0), (1, "a", 3.0), (2, "b", 5.0),
        ],
        "ts long, x string, v double",
    )
    cube = track_batch(
        ev, fields=["x"], ts_col="ts", total_col="v", resolution=1, duration=10
    )

    def run(op):
        return {
            r.bucket: r.value
            for r in series_binop(cube, 0, 3, ["a"], ["b"], op=op, resolution=1).collect()
        }

    assert run("add")[0] == 6.0 and run("sub")[0] == 2.0
    assert run("mul")[0] == 8.0 and run("div")[0] == 2.0
    for op in ("add", "sub", "mul", "div"):
        got = run(op)
        assert got[1] is None and got[2] is None  # unmatched slots -> null

    import pytest as _pt

    with _pt.raises(ValueError, match="op"):
        series_binop(cube, 0, 3, ["a"], ["b"], op="pow", resolution=1)


def test_series_bottomk(spark):
    """largest=False is PromQL bottomk: the quietest series, same
    TakeOrderedAndProject shape, ties on the series path."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_topk

    ev = spark.createDataFrame(
        [(0, "a", f"u{i}", float(i + 1)) for i in range(5)],
        "ts long, x string, y string, v double",
    )
    cube = track_batch(
        ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=10
    )
    lo = series_topk(cube, 0, 5, ["a", "*"], k=2, resolution=1, largest=False).collect()
    assert [(r.f2, r.range_total) for r in lo] == [("u0", 1.0), ("u1", 2.0)]
    hi = series_topk(cube, 0, 5, ["a", "*"], k=2, resolution=1).collect()
    assert [r.f2 for r in hi] == ["u4", "u3"]


def test_series_agg_by_stats(spark):
    """avg/min/max/count by kept level: depth-2 cube, keep f1 — per-slot
    stats across the collapsed f2 series (hand-computed)."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_agg_by

    ev = spark.createDataFrame(
        [
            # slot 0, type m: users u1=4.0, u2=2.0; type n: u1=10.0
            (0, "m", "u1", 4.0), (0, "m", "u2", 2.0), (0, "n", "u1", 10.0),
            # slot 1, type m: u1=6.0
            (1, "m", "u1", 6.0),
        ],
        "ts long, x string, u string, v double",
    )
    cube = track_batch(
        ev, fields=["x", "u"], ts_col="ts", total_col="v", resolution=1, duration=10
    )
    got = {
        (r.f1, r.bucket): r
        for r in series_agg_by(
            cube, 0, 2, ["*", "*"], keep_levels=[1], resolution=1
        ).collect()
    }
    m0 = got[("m", 0)]
    assert (m0.sum_total, m0.avg_total, m0.min_total, m0.max_total) == (6.0, 3.0, 2.0, 4.0)
    assert (m0.n_series, m0.cnt) == (2, 2.0)
    # population spread over {4, 2}: var = 1, stddev = 1
    assert (m0.stdvar_total, m0.stddev_total) == (1.0, 1.0)
    n0 = got[("n", 0)]
    assert (n0.sum_total, n0.avg_total, n0.min_total, n0.max_total) == (10.0, 10.0, 10.0, 10.0)
    assert (n0.stdvar_total, n0.stddev_total) == (0.0, 0.0)  # single series: exactly 0
    assert got[("m", 1)].avg_total == 6.0

    import pytest as _pt

    with _pt.raises(ValueError, match="keep_levels"):
        series_agg_by(cube, 0, 2, ["*", "*"], keep_levels=[], resolution=1)


def test_series_topk_per_slot_instant_ranking(spark):
    """Instant topk: per-slot leaderboard, ties break on the series path;
    bottomk via largest=False."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_topk_per_slot

    ev = spark.createDataFrame(
        [
            # slot 0: a=5, b=3, c=1 ; slot 1: a=1, b=2, c=9
            (0, "a", 5.0), (0, "b", 3.0), (0, "c", 1.0),
            (1, "a", 1.0), (1, "b", 2.0), (1, "c", 9.0),
        ],
        "ts long, x string, v double",
    )
    cube = track_batch(
        ev, fields=["x"], ts_col="ts", total_col="v", resolution=1, duration=10
    )
    top = {
        (r.bucket, r.rk): (r.f1, r.total)
        for r in series_topk_per_slot(cube, 0, 2, ["*"], k=2, resolution=1).collect()
    }
    assert top == {
        (0, 1): ("a", 5.0), (0, 2): ("b", 3.0),
        (1, 1): ("c", 9.0), (1, 2): ("b", 2.0),
    }
    bottom = {
        (r.bucket, r.rk): r.f1
        for r in series_topk_per_slot(
            cube, 0, 2, ["*"], k=1, resolution=1, largest=False
        ).collect()
    }
    assert bottom == {(0, 1): "c", (1, 1): "a"}


def test_series_count_values_census(spark):
    """count_values groups on the scaled long: equal totals collapse,
    distinct totals stay apart."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_count_values

    ev = spark.createDataFrame(
        [(0, "a", 2.0), (0, "b", 2.0), (0, "c", 7.0), (1, "a", 2.0)],
        "ts long, x string, v double",
    )
    cube = track_batch(
        ev, fields=["x"], ts_col="ts", total_col="v", resolution=1, duration=10
    )
    got = {
        (r.bucket, r.value): r.n_series
        for r in series_count_values(cube, 0, 2, ["*"], resolution=1).collect()
    }
    assert got == {(0, 2.0): 2, (0, 7.0): 1, (1, 2.0): 1}


def test_series_stddev_over_time_population(spark):
    """Hand-computed trailing population stddev (window includes current
    slot, PromQL semantics); null until the window fills."""
    from kadiyadb_spark.query import series_stddev_over_time

    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate([1.0, 2.0, 3.0, 4.0])],
        "f1 string, bucket long, total double",
    )
    got = {
        r.bucket: r
        for r in series_stddev_over_time(df, ["f1"], window_slots=3).collect()
    }
    assert got[0].win_stddev is None and got[1].win_stddev is None
    assert (got[2].win_mean, got[2].win_stdvar) == (2.0, 0.6667)
    assert got[2].win_stddev == 0.8165  # sqrt(2/3)
    assert (got[3].win_mean, got[3].win_stdvar) == (3.0, 0.6667)

    import pytest as _pt

    with _pt.raises(ValueError, match="window_slots"):
        series_stddev_over_time(df, ["f1"], window_slots=0)


def test_series_anomaly_exact_golden(spark):
    """The exact-operand z: hand-computed sample stddev over the trailing
    baseline (current slot excluded); flat baseline (var exactly 0)
    yields null z and no flag."""
    from kadiyadb_spark.query import series_anomaly

    rows = [("a", i, v) for i, v in enumerate([1.0, 3.0, 1.0, 3.0, 10.0])]
    rows += [("b", i, v) for i, v in enumerate([5.0, 5.0, 7.0])]
    df = spark.createDataFrame(rows, "f1 string, bucket long, total double")
    got = {
        (r.f1, r.bucket): r
        for r in series_anomaly(df, ["f1"], window_slots=2, z_thresh=2.0).collect()
    }
    a2 = got[("a", 2)]  # baseline [1,3]: mean 2, sd sqrt(2)
    assert (a2.baseline_mean, a2.zscore, a2.is_anomaly) == (2.0, -0.7071, False)
    a4 = got[("a", 4)]  # baseline [1,3]: z = 8/sqrt(2)
    assert (a4.zscore, a4.is_anomaly) == (5.6569, True)
    b2 = got[("b", 2)]  # flat baseline [5,5]: variance exactly 0 -> null
    assert b2.zscore is None and b2.is_anomaly is False
    assert got[("a", 0)].zscore is None  # no full baseline yet


def test_series_alerts_pending_firing(spark):
    """Hand-computed alert runs: for_slots=3 — a 2-slot breach never
    fires, a 4-slot breach fires at run_start + 2 slots; boundary value
    exactly AT the threshold breaches (scaled-long >=, no FP edge)."""
    from kadiyadb_spark.query import series_alerts

    vals = [0.0, 5.0, 5.0, 0.0, 5.0, 5.0, 7.0, 5.0, 0.0]
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)],
        "f1 string, bucket long, total double",
    )
    got = series_alerts(
        df, ["f1"], threshold=5.0, for_slots=3, resolution=1
    ).collect()
    assert len(got) == 1  # the 2-slot run at buckets 1-2 never fires
    r = got[0]
    assert (r.pending_start, r.firing_start, r.run_end) == (4, 6, 8)
    assert (r.n_slots, r.peak) == (4, 7.0)

    # above=False: sustained quiet (<= 0.0) for 2 slots — none here
    low = series_alerts(
        df, ["f1"], threshold=0.0, for_slots=2, resolution=1, above=False
    ).collect()
    assert low == []

    import pytest as _pt

    with _pt.raises(ValueError, match="for_slots"):
        series_alerts(df, ["f1"], threshold=1.0, for_slots=0)


def test_series_quantile_by_instant_median(spark):
    """Instant quantile ACROSS series per slot: median of {2,4,9} is 4;
    dyadic phi over an even count interpolates exactly (median of {2,4}
    is 3.0)."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_quantile_by

    ev = spark.createDataFrame(
        [
            (0, "m", "u1", 2.0), (0, "m", "u2", 4.0), (0, "m", "u3", 9.0),
            (1, "m", "u1", 2.0), (1, "m", "u2", 4.0),
        ],
        "ts long, x string, u string, v double",
    )
    cube = track_batch(
        ev, fields=["x", "u"], ts_col="ts", total_col="v", resolution=1, duration=10
    )
    got = {
        r.bucket: r
        for r in series_quantile_by(
            cube, 0, 2, ["*", "*"], keep_levels=[1], phi=0.5, resolution=1
        ).collect()
    }
    assert (got[0].quantile, got[0].n_series) == (4.0, 3)
    assert (got[1].quantile, got[1].n_series) == (3.0, 2)

    import pytest as _pt

    with _pt.raises(ValueError, match="phi"):
        series_quantile_by(cube, 0, 2, ["*", "*"], keep_levels=[1], phi=1.5)


def test_series_share_per_slot(spark):
    """Shares sum to 1 per slot; zero slot-total yields null share."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_share

    ev = spark.createDataFrame(
        [(0, "a", 3.0), (0, "b", 1.0), (1, "a", 2.0), (2, "a", 5.0), (2, "b", -5.0)],
        "ts long, x string, v double",
    )
    cube = track_batch(
        ev, fields=["x"], ts_col="ts", total_col="v", resolution=1, duration=10
    )
    got = {
        (r.bucket, r.f1): (r.share, r.slot_total)
        for r in series_share(cube, 0, 3, ["*"], resolution=1).collect()
    }
    assert got[(0, "a")] == (0.75, 4.0) and got[(0, "b")] == (0.25, 4.0)
    assert got[(1, "a")] == (1.0, 2.0)
    # slot 2 sums to zero: share undefined on both series
    assert got[(2, "a")][0] is None and got[(2, "b")][0] is None


def test_series_remap_merges_label_values(spark):
    """click+view fold into 'engagement'; unlisted values pass through;
    bad level/empty mapping refuse."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_remap

    ev = spark.createDataFrame(
        [(0, "click", 3.0), (0, "view", 1.0), (0, "error", 7.0), (1, "view", 2.0)],
        "ts long, x string, v double",
    )
    cube = track_batch(
        ev, fields=["x"], ts_col="ts", total_col="v", resolution=1, duration=10
    )
    got = {
        (r.bucket, r.f1): (r.total, r.cnt)
        for r in series_remap(
            cube, 0, 2, ["*"], level=1,
            mapping={"click": "engagement", "view": "engagement"}, resolution=1,
        ).collect()
    }
    assert got == {
        (0, "engagement"): (4.0, 2.0),
        (0, "error"): (7.0, 1.0),
        (1, "engagement"): (2.0, 1.0),
    }

    import pytest as _pt

    with _pt.raises(ValueError, match="level"):
        series_remap(cube, 0, 2, ["*"], level=2, mapping={"a": "b"}, resolution=1)
    with _pt.raises(ValueError, match="mapping"):
        series_remap(cube, 0, 2, ["*"], level=1, mapping={}, resolution=1)


def test_series_anomaly_flat_baseline_large_level(spark):
    """Regression (live-review repro): a flat baseline at a LARGE level
    (totals ~7846 — where the uncentered n*S2 - S1^2 cancels past 2^53
    and fabricated z=10 anomalies) must yield null z for a negligible
    +0.001 change; the min-centered identity is exactly 0 on flat
    windows at any magnitude."""
    from kadiyadb_spark.query import series_anomaly, series_stddev_over_time

    vals = [7846.0313] * 12 + [7846.0323]
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)],
        "f1 string, bucket long, total double",
    )
    last = {
        r.bucket: r
        for r in series_anomaly(df, ["f1"], window_slots=12, z_thresh=2.0).collect()
    }[12]
    assert last.zscore is None and last.is_anomaly is False

    sd = {
        r.bucket: r
        for r in series_stddev_over_time(df, ["f1"], window_slots=12).collect()
    }
    assert sd[11].win_stdvar == 0.0 and sd[11].win_stddev == 0.0

    # a REAL jump at the same level still flags
    vals2 = [7846.0313] * 6 + [7846.5] * 6 + [9000.0]
    df2 = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals2)],
        "f1 string, bucket long, total double",
    )
    last2 = {
        r.bucket: r
        for r in series_anomaly(df2, ["f1"], window_slots=12, z_thresh=2.0).collect()
    }[12]
    assert last2.is_anomaly is True


def test_windowed_variance_readers_hold_their_documented_bound(spark):
    """Both trailing-window variance readers promise |total| <= 8.7e4 at
    4dp. At 70 000 the centering cross term 2*m*S1 of a 12-slot window,
    and the window sum S2 of a 24-slot one, pass 2^63: under ANSI they
    raised ARITHMETIC_OVERFLOW / CAST_OVERFLOW while they ran in long."""
    from kadiyadb_spark.query import series_anomaly, series_stddev_over_time

    def frame(vals):
        return spark.createDataFrame(
            [("m", i, v) for i, v in enumerate(vals)],
            "f1 string, bucket long, total double",
        )

    flat = frame([70000.0] * 25)
    for w in (12, 24):
        an = {r.bucket: r for r in series_anomaly(flat, ["f1"], window_slots=w).collect()}
        assert an[w].baseline_mean == 70000.0 and an[w].zscore is None
        sd = {r.bucket: r for r in series_stddev_over_time(flat, ["f1"], window_slots=w).collect()}
        assert (sd[w - 1].win_mean, sd[w - 1].win_stdvar, sd[w - 1].win_stddev) == (70000.0, 0.0, 0.0)

    # six values at 70000 and six at 70001: population variance 1/4
    alt = frame([70000.0 + (i % 2) for i in range(12)] + [87000.0])
    sd = {r.bucket: r for r in series_stddev_over_time(alt, ["f1"], window_slots=12).collect()}
    assert (sd[11].win_mean, sd[11].win_stdvar, sd[11].win_stddev) == (70000.5, 0.25, 0.5)
    an = {r.bucket: r for r in series_anomaly(alt, ["f1"], window_slots=12).collect()}
    assert an[12].baseline_mean == 70000.5 and an[12].is_anomaly is True


def test_series_burn_rate_multiwindow(spark):
    """Hand-computed multi-window burn: errors 1/10 of requests with a
    burst — the long window keeps a blip from firing; both windows over
    budget fire; missing slots densify to zero and DON'T shrink windows."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_burn_rate

    rows = []
    # slots 0..5: req=10, err=0.1 (ratio .01 = exactly at a 0.01 budget -> burn 1)
    for i in range(6):
        rows += [(i, "click", 10.0), (i, "error", 0.1)]
    # slots 6,7: err burst (ratio 1.0 -> burn 100); slot 8 missing entirely
    rows += [(6, "click", 10.0), (6, "error", 10.0),
             (7, "click", 10.0), (7, "error", 10.0),
             (9, "click", 10.0), (9, "error", 0.1)]
    cube = track_batch(
        spark.createDataFrame(rows, "ts long, x string, v double"),
        fields=["x"], ts_col="ts", total_col="v", resolution=1, duration=100,
    )
    got = {
        r.bucket: r
        for r in series_burn_rate(
            cube, 0, 10, ["error"], ["click"], slo=0.99,
            short_slots=2, long_slots=6, factor=10.0, resolution=1,
        ).collect()
    }
    assert len(got) == 10  # dense axis incl. the empty slot 8
    assert got[8].err_total == 0.0 and got[8].req_total == 0.0
    # steady state: burn 1 on both windows, no firing
    assert got[5].burn_short == 1.0 and got[5].burn_long == 1.0
    assert got[5].firing is False
    # first burst slot: short window hot (ratio .505 -> burn 50.5) but the
    # long window still dilutes below factor? long over slots 1..6:
    # err = .5 + 10, req = 60 -> ratio .175 -> burn 17.5 >= 10 -> fires
    assert got[6].firing is True and got[6].burn_short > 10
    # windows not yet full at range start -> null burns, no firing
    assert got[0].burn_short is None and got[0].firing is False


def test_histogram_quantile_prometheus_edges(spark):
    """Review-finding edges: an +Inf-only ladder answers NaN (never a
    fabricated 0.0); a first bucket with a non-positive bound returns the
    bound instead of interpolating above it."""
    import math

    from kadiyadb_spark.query import histogram_quantile

    rows = [
        # group 'a': only the +Inf bucket is occupied
        ("a", float("inf"), 5),
        # group 'b': negative first bucket holds the median
        ("b", -1.0, 8), ("b", 1.0, 1), ("b", float("inf"), 1),
        # group 'c': normal ladder (regression: unchanged behavior)
        ("c", 1.0, 5), ("c", 2.0, 5), ("c", float("inf"), 0),
    ]
    df = spark.createDataFrame(rows, "g string, le double, cnt long")
    got = {r.g: r.quantile for r in histogram_quantile(df, 0.5, ["g"]).collect()}
    assert math.isnan(got["a"])
    assert got["b"] == -1.0
    assert got["c"] == 1.0  # rank 5 of 10 lands exactly on the first bucket


def test_series_last_over_time_carry_and_staleness(spark):
    """last_over_time over a 3-slot frame: written slots (cnt>0) carry
    their value forward; a never-written head yields nulls; the carried
    value falls out once the write leaves the frame; age counts slots
    since the write."""
    from kadiyadb_spark.query import series_last_over_time

    rows = [
        ("m", 0, 0.0, 0),    # silent head
        ("m", 60, 5.5, 2),   # write
        ("m", 120, 0.0, 0),
        ("m", 180, 0.0, 0),
        ("m", 240, 7.0, 1),  # write
    ]
    df = spark.createDataFrame(
        rows, "f1 string, bucket long, total double, cnt long"
    )
    got = {
        r.bucket: r
        for r in series_last_over_time(df, ["f1"], window_slots=3).collect()
    }
    assert got[0].last_total is None and got[0].slots_since_write is None
    assert (got[60].last_total, got[60].slots_since_write) == (5.5, 0)
    assert (got[120].last_total, got[120].slots_since_write) == (5.5, 1)
    assert (got[180].last_total, got[180].slots_since_write) == (5.5, 2)
    # at 240 the 5.5 write has left the 3-frame; the new write wins anyway
    assert (got[240].last_total, got[240].slots_since_write) == (7.0, 0)

    # a frame whose only content is silence: shrink window to 2 -> slot 180
    # no longer sees the bucket-60 write
    got2 = {
        r.bucket: r
        for r in series_last_over_time(df, ["f1"], window_slots=2).collect()
    }
    assert got2[180].last_total is None and got2[180].slots_since_write is None

    import pytest as _pt

    with _pt.raises(ValueError, match="window_slots"):
        series_last_over_time(df, ["f1"], window_slots=0)


def test_series_seasonal_anomaly_golden(spark):
    """Slot 0 baseline history {10, 12, 14} (mean 12, sample std 2): a
    current value of 20 scores z=4 and fires at the 3-sigma default; slot
    1 history is FLAT {5, 5} -> exactly zero spread at any magnitude ->
    null z, non-anomalous; slot 2 has one period -> below min_periods."""
    from kadiyadb_spark.query import series_seasonal_anomaly

    res, period = 60, 3
    mk = lambda rows: spark.createDataFrame(
        rows, "f1 string, bucket long, total double"
    )
    base = mk(
        [("m", p * period * res + s * res, v)
         for p, slot_vals in enumerate([
             {0: 10.0, 1: 5.0, 2: 7.0},
             {0: 12.0, 1: 5.0},
             {0: 14.0},
         ])
         for s, v in slot_vals.items()]
    )
    cur = mk([("m", 9 * period * res + 0 * res, 20.0),
              ("m", 9 * period * res + 1 * res, 5.0),
              ("m", 9 * period * res + 2 * res, 100.0)])
    got = {
        r.slot_of_period: r
        for r in series_seasonal_anomaly(
            cur, base, ["f1"], period_slots=period, resolution=res
        ).collect()
    }
    s0 = got[0]
    assert (s0.expected, s0.zscore, s0.is_anomaly) == (12.0, 4.0, True)
    s1 = got[1]
    assert (s1.expected, s1.zscore, s1.is_anomaly) == (5.0, None, False)
    s2 = got[2]
    assert (s2.expected, s2.zscore, s2.is_anomaly) == (None, None, False)

    import pytest as _pt

    with _pt.raises(ValueError, match="min_periods"):
        series_seasonal_anomaly(cur, base, ["f1"], period, min_periods=1)


def test_series_mad_anomaly_robust_to_baseline_spike(spark):
    """The masking scenario MAD exists for: a window of {10.. mostly flat
    ..one 1000 spike} keeps median/MAD small, so the NEXT spike still
    fires — while the same window's stddev baseline would swallow it.
    Hand-computed: baseline [10]*5 + [1000], sorted medians at n=6 ->
    positions 3/4 -> med=10, devs sorted [0,0,0,0,0,990] -> mad=0... so
    use a gently varying floor to keep mad > 0."""
    from kadiyadb_spark.query import series_mad_anomaly

    vals = [10.0, 11.0, 10.0, 11.0, 10.0, 1000.0, 500.0]
    df = spark.createDataFrame(
        [("m", i * 60, v) for i, v in enumerate(vals)],
        "f1 string, bucket long, total double",
    )
    got = {
        r.bucket: r
        for r in series_mad_anomaly(df, ["f1"], window_slots=6).collect()
    }
    r = got[6 * 60]  # scoring 500 against the 6-slot window incl. the 1000 spike
    # sorted baseline [10,10,10,11,11,1000]: med=(10+11)/2=10.5
    assert r.baseline_median == 10.5
    # devs |x-10.5| sorted [0.5,0.5,0.5,0.5,0.5,989.5]: mad=0.5
    assert r.mad == 0.5
    exp_z = 0.6745 * (500.0 - 10.5) / 0.5
    import math as _m

    assert r.rzscore == _m.floor(exp_z * 10000 + 0.5) / 10000
    assert r.is_anomaly
    # partial windows stay null / non-anomalous
    assert got[0].rzscore is None and not got[0].is_anomaly

    import pytest as _pt

    with _pt.raises(ValueError, match="window_slots"):
        series_mad_anomaly(df, ["f1"], window_slots=1)


def test_track_rejects_complement_invariant(spark):
    """rejects + rows track_batch aggregates = the input, no overlap; the
    first matching reason wins in deterministic order (null_ts before any
    field)."""
    from kadiyadb_spark.ingest import track_batch, track_rejects

    rows = [
        (0, 0, "click", "u1", 1.0),       # clean
        (1, None, "*", "u1", 1.0),        # null ts AND illegal field -> null_ts
        (2, 5, "*", "u1", 1.0),           # illegal f1
        (3, 5, "click", None, 1.0),       # null f2
        (4, 5, "", "u1", 1.0),            # empty f1
        # poison values (code-review r12): each must REJECT, never
        # half-count (NULL) or abort the ANSI scaled cast (NaN/Inf/huge)
        (5, 5, "click", "u1", None),      # null value
        (6, 5, "click", "u1", float("nan")),
        (7, 5, "click", "u1", float("inf")),
        (8, 5, "click", "u1", 1e18),      # off the dp=4 scaled-long grid
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, x string, y string, v double"
    )
    rej = {
        r.event_id: r.reject_reason
        for r in track_rejects(df, ["x", "y"], ts_col="ts", total_col="v").collect()
    }
    assert rej == {
        1: "null_ts",
        2: "illegal_field:x",
        3: "illegal_field:y",
        4: "illegal_field:x",
        5: "illegal_value:v",
        6: "illegal_value:v",
        7: "illegal_value:v",
        8: "illegal_value:v",
    }
    cube = track_batch(df, fields=["x", "y"], ts_col="ts", total_col="v",
                       resolution=1, duration=5)
    # only the clean row survives into the cube: depth-2 count sums to 1
    # (the NaN row would previously have KILLED this job; the null-value
    # row would have half-counted into cnt)
    full_depth = [r for r in cube.collect() if r.depth == 2]
    assert sum(r.cnt for r in full_depth) == 1
    assert sum(r.total for r in full_depth) == 1.0

    import pytest as _pt

    with _pt.raises(ValueError):
        track_rejects(df, [], ts_col="ts")
    # the shadow must see the column its track_batch twin aggregates
    with _pt.raises(ValueError, match="total_col"):
        track_rejects(df.drop("v"), ["x", "y"], ts_col="ts", total_col="v")


def test_poison_band_closed_and_high_cnt_refolds(spark):
    """VERDICT r12 item 2 — the guard-vs-fold bound mismatch, both halves.

    (a) value_illegal's grid bound is now the EXACT-FOLD bound 2^53/10^dp,
    not long-cast safety 9.2e18/10^dp: a single row in the old ~1000x band
    (validates, then aborts guarded_scaled_sum) must land in track_rejects
    and be dropped by track_batch — never abort the job. A row just below
    the bound must still ingest exactly.

    (b) counts quantize AND re-fold at dp=0: a group whose cnt sits in
    (2^53/10^4, 2^53) — impossible to exceed via count_col=None in a test,
    so staged directly as a stored-cube row — must round-trip the
    read-time re-fold (``fold_aggs`` over the union of two cubes) instead
    of aborting, and a large count_col ingests cleanly."""
    from kadiyadb_spark.ingest import fold_aggs, track_batch, track_rejects

    BOUND = (1 << 53) / 10**4  # 900_719_925_474.0992

    rows = [
        (0, 0, "click", 1.0),      # clean
        (1, 1, "click", 9.0e11),   # below the exact-fold bound: ingests
        (2, 2, "click", 9.2e14),   # OLD band: validated, then fold-aborted
        (3, 3, "click", 9.1e11),   # just past the new bound: rejected
    ]
    df = spark.createDataFrame(rows, "event_id long, ts long, x string, v double")
    rej = {
        r.event_id: r.reject_reason
        for r in track_rejects(df, ["x"], ts_col="ts", total_col="v").collect()
    }
    assert rej == {2: "illegal_value:v", 3: "illegal_value:v"}
    cube = track_batch(df, fields=["x"], ts_col="ts", total_col="v",
                       resolution=1, duration=10)
    got = {r.bucket: (r.total, r.cnt) for r in cube.collect()}
    # the one-poison-row job abort is gone; in-bound rows are exact
    assert got == {0: (1.0, 1.0), 1: (9.0e11, 1.0)}
    assert 9.0e11 < BOUND < 9.1e11

    # (b) stored cnt in the old abort band re-folds exactly at dp=0
    cube_hi = spark.createDataFrame(
        [(0, 0, "click", 1, 5.0, 1.0e12), (0, 0, "click", 1, 7.0, 2.0e12)],
        "epoch long, bucket long, f1 string, depth long, total double, cnt double",
    )
    merged = (
        cube_hi.unionByName(cube_hi.limit(0))
        .groupBy("epoch", "bucket", "f1", "depth")
        .agg(*fold_aggs())
        .collect()
    )
    assert [(r.total, r.cnt) for r in merged] == [(12.0, 3.0e12)]

    # a large integer count_col ingests at dp=0 (old: x10^4 scaling tripped
    # the 2^53 guard at ingest)
    big = spark.createDataFrame(
        [(0, "click", 2.0, 3.0e12)], "ts long, x string, v double, c double"
    )
    c = track_batch(big, fields=["x"], ts_col="ts", total_col="v",
                    count_col="c", resolution=1, duration=10).collect()
    assert [(r.total, r.cnt) for r in c] == [(2.0, 3.0e12)]


def test_series_outlier_fences_golden(spark):
    """4-slot baseline [10,12,14,16]: type-7 Q1=11.5, Q3=14.5, IQR=3 ->
    fences 7.0 / 19.0; a 20 breaches, a 15 does not; partial windows stay
    null/false."""
    from kadiyadb_spark.query import series_outlier_fences

    vals = [10.0, 12.0, 14.0, 16.0, 20.0, 15.0]
    df = spark.createDataFrame(
        [("m", i * 60, v) for i, v in enumerate(vals)],
        "f1 string, bucket long, total double",
    )
    got = {
        r.bucket: r
        for r in series_outlier_fences(df, ["f1"], window_slots=4).collect()
    }
    r4 = got[4 * 60]  # scoring 20 against [10,12,14,16]
    assert (r4.q1, r4.q3, r4.lo_fence, r4.hi_fence) == (11.5, 14.5, 7.0, 19.0)
    assert r4.is_outlier
    r5 = got[5 * 60]  # scoring 15 against [12,14,16,20]: Q1=13.5 Q3=17 iqr=3.5
    assert (r5.q1, r5.q3) == (13.5, 17.0)
    assert (r5.lo_fence, r5.hi_fence) == (8.25, 22.25)
    assert not r5.is_outlier
    assert got[0].lo_fence is None and not got[0].is_outlier

    import pytest as _pt

    with _pt.raises(ValueError, match="window_slots"):
        series_outlier_fences(df, ["f1"], window_slots=0)


def test_series_cusum_matches_recursive_definition(spark):
    """The running-minimum identity vs the textbook recursion
    S+_t = max(0, S+_{t-1} + x - mu0 - k), S-_t = max(0, S-_{t-1} - x +
    mu0 - k), replayed in pure python over a shift + a spike; warmup
    slots null; integer scaling keeps every engine on the same values."""
    from kadiyadb_spark.query import series_cusum

    vals = [10.0, 10.2, 9.8, 10.0, 10.1, 9.9,          # baseline (q=6), mu0=10
            10.4, 10.5, 10.6, 10.4, 10.5,              # sustained +0.5 shift
            3.0, 10.0]                                  # one down spike, recover
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)], "f1 string, bucket long, total double"
    )
    got = {r.bucket: r for r in series_cusum(
        df, ["f1"], baseline_slots=6, threshold=1.0, drift=0.1
    ).collect()}
    q, mu0, k = 6, 10.0, 0.1
    sp = sn = 0.0
    for i, v in enumerate(vals):
        r = got[i]
        if i < q:
            assert r.cusum_pos is None and r.cusum_neg is None and r.is_change is False
            continue
        sp = max(0.0, sp + v - mu0 - k)
        sn = max(0.0, sn - v + mu0 - k)
        assert r.cusum_pos == pytest.approx(sp, abs=1e-9), i
        assert r.cusum_neg == pytest.approx(sn, abs=1e-9), i
        assert r.is_change == (sp > 1.0 or sn > 1.0), i
    # the sustained shift fires; the baseline never does
    assert any(got[i].is_change for i in range(6, 11))
    # layout invariance: 1 vs 8 partitions identical
    a = sorted(map(tuple, series_cusum(df.coalesce(1), ["f1"], 6, 1.0, 0.1).collect()))
    b = sorted(map(tuple, series_cusum(df.repartition(8), ["f1"], 6, 1.0, 0.1).collect()))
    assert a == b


def test_regex_matcher_semantics(spark, rollup_cube):
    """PromQL =~ (Re) matcher: fully anchored, equivalent to the exact /
    IN forms it generalizes, illegal patterns fail fast."""
    from kadiyadb_spark.query import Re

    # anchored single match == the exact form
    exact = _points(fetch(rollup_cube, 0, 5, ["a", "b", "*"], RES, DUR))
    rex = _points(fetch(rollup_cube, 0, 5, ["a", Re("b"), "*"], RES, DUR))
    assert rex == exact
    # alternation == the IN form
    inn = _points(fetch(rollup_cube, 0, 5, ["a", ["b", "c"], "*"], RES, DUR))
    alt = _points(fetch(rollup_cube, 0, 5, ["a", Re("b|c"), "*"], RES, DUR))
    assert alt == inn
    # true metacharacters: prefix class nothing else can express
    pre = _points(fetch(rollup_cube, 0, 5, ["a", "*", Re("[cd]")], RES, DUR))
    assert set(pre) == {("a", "b", "c"), ("a", "b", "d")}
    # anchoring: a substring does NOT match
    assert fetch(rollup_cube, 0, 5, ["a", Re("b|c"), Re("x")], RES, DUR, densify=False).count() == 0
    with pytest.raises(ValueError):
        Re("")
    with pytest.raises(ValueError):
        Re("(")
    with pytest.raises(ValueError):
        Re(3)  # type: ignore[arg-type]


def test_fetch_multi_shared_scan_semantics(spark, rollup_cube):
    """The rule-evaluation batch: each query's rows equal its standalone
    sparse fetch; a row matching two patterns appears once per query;
    empty batches raise."""
    from kadiyadb_spark.query import Re, fetch_multi

    pats = {"ab": ["a", "b", "*"], "ace": ["a", "c", "e"], "bc": ["a", Re("b|c"), "*"]}
    got = fetch_multi(rollup_cube, 0, 5, pats, RES, DUR)
    by_q = {}
    for r in got.collect():
        d = r.asDict()
        by_q.setdefault(d.pop("query"), []).append(tuple(sorted(d.items())))
    for name, p in pats.items():
        solo = [
            tuple(sorted(r.asDict().items()))
            for r in fetch(rollup_cube, 0, 5, p, RES, DUR, densify=False).collect()
        ]
        assert sorted(by_q[name]) == sorted(solo), name
    # overlap: every 'ab' row is also a 'bc' row (b matches b|c)
    assert set(by_q["ab"]) <= set(by_q["bc"])

    with pytest.raises(ValueError):
        fetch_multi(rollup_cube, 0, 5, {}, RES, DUR)
    with pytest.raises(InvalidTimeRange):
        fetch_multi(rollup_cube, 5, 0, pats, RES, DUR)
    # from == to -> empty frame with the labeled schema (fine-print #4)
    empty = fetch_multi(rollup_cube, 3, 3, pats, RES, DUR)
    assert empty.count() == 0 and empty.columns[0] == "query"


def test_fetch_multi_mixed_depths(spark, rollup_cube):
    """Mixed-depth batches (VERDICT r09 item 7 — real Prometheus rule
    groups mix depths): every query's rows equal its standalone sparse
    fetch null-padded to the batch's max depth, the schema is
    rectangular (f1..fDmax), and a depth-1 pattern matches ONLY depth-1
    rollup rows — never deep rows re-labeled."""
    from kadiyadb_spark.query import Re, fetch_multi

    pats = {
        "all_a": ["a"],                      # depth 1 (rollup row)
        "ab": ["a", "b"],                    # depth 2
        "abc": ["a", "b", "c"],              # depth 3
        "bc_re": ["a", Re("b|c")],           # depth 2, regex
    }
    got = fetch_multi(rollup_cube, 0, 5, pats, RES, DUR)
    assert got.columns == ["query", "epoch", "f1", "f2", "f3", "bucket", "total", "cnt"]
    by_q = {}
    for r in got.collect():
        d = r.asDict()
        by_q.setdefault(d.pop("query"), []).append(tuple(sorted(d.items())))
    for name, p in pats.items():
        solo = []
        for r in fetch(rollup_cube, 0, 5, p, RES, DUR, densify=False).collect():
            d = r.asDict()
            for c in ("f1", "f2", "f3"):     # null-pad to the batch max depth
                d.setdefault(c, None)
            solo.append(tuple(sorted(d.items())))
        assert sorted(by_q[name]) == sorted(solo), name
    # the depth-1 query returns exactly the depth-1 rollup (one series,
    # totals = 1+2+3 per slot), with f2/f3 null
    a_rows = [dict(t) for t in by_q["all_a"]]
    assert all(r["f2"] is None and r["f3"] is None for r in a_rows)
    assert sorted(r["total"] for r in a_rows) == [6.0] * 5


def test_scaled_fold_overflow_guard(spark):
    """VERDICT r09 item 3: the scaled-long cube fold is runtime-guarded.
    (a) A near-bound ingest stays EXACT — a total whose scaled form sits
    just under 2^53 folds to the precise dp-multiple; (b) past the bound
    the job FAILS (raise_error) instead of silently storing a drifted
    total; (c) a segment re-fold through fold_aggs is guarded the same
    way."""
    from pyspark.sql import functions as F

    from kadiyadb_spark import schema as S
    from kadiyadb_spark.functions.num import FOLD_EXACT_BOUND
    from kadiyadb_spark.ingest import fold_aggs

    # (a) near-bound: 2 rows of 4.5e11 at dp=4 -> scaled total 9.0e15,
    # just inside 2^53 (~9.007e15); the stored double is the exact value
    rows = [(0, "a", "b", "c", 4.5e11, 1), (1, "a", "b", "c", 4.5e11, 1)]
    cube = _cube(spark, rows, rollup=False)
    got = cube.filter(F.col(S.DEPTH) == 3).agg(F.sum(S.TOTAL)).collect()[0][0]
    assert got == 9.0e11  # exact: 9e15 scaled units, representable
    assert 2 * round(4.5e11 * 10**4) <= FOLD_EXACT_BOUND

    # (b) past-bound ingest: 2 rows of 4.6e11 -> scaled 9.2e15 > 2^53
    bad = _cube(spark, [(0, "a", "b", "c", 4.6e11, 1), (0, "a", "b", "c", 4.6e11, 1)],
                rollup=False)
    with pytest.raises(Exception, match="fold overflow at value_dp=4"):
        bad.collect()

    # (c) the shared re-fold (segment merge / compact / read fold) guards too
    seg = spark.createDataFrame(
        [(0, 0, "a", None, None, 1, 4.6e11, 1.0), (0, 0, "a", None, None, 1, 4.6e11, 1.0)],
        f"{S.EPOCH} long, {S.BUCKET} long, f1 string, f2 string, f3 string, "
        f"{S.DEPTH} int, {S.TOTAL} double, {S.CNT} double",
    )
    refold = seg.groupBy(S.EPOCH, S.BUCKET, "f1", "f2", "f3", S.DEPTH).agg(
        *fold_aggs()
    )
    with pytest.raises(Exception, match="fold overflow at value_dp=4"):
        refold.collect()
    ok = seg.withColumn(S.TOTAL, F.lit(4.5e11)).groupBy(
        S.EPOCH, S.BUCKET, "f1", "f2", "f3", S.DEPTH
    ).agg(*fold_aggs())
    assert ok.collect()[0][S.TOTAL] == 9.0e11


def test_fetch_absent_semantics(spark, rollup_cube):
    """absent(): exactly the empty slots, Prometheus-style. The fixture
    tracks abc/abd/ace at slots 0..4, so a matching pattern yields no
    rows over [0,5); a never-tracked pattern yields every slot; a series
    tracked only at some slots yields the complement; boundary fine
    print matches fetch (floor both ends, from==to empty)."""
    from kadiyadb_spark.query import Re, fetch_absent

    full = fetch_absent(rollup_cube, 0, 5, ["a", "b", "c"], RES, DUR)
    assert full.count() == 0  # present in every slot
    none = fetch_absent(rollup_cube, 0, 5, ["zzz", "*", "*"], RES, DUR)
    assert sorted(r["bucket"] for r in none.collect()) == [0, 1, 2, 3, 4]
    assert none.collect()[0]["absent"] == 1
    # partial presence: track an extra series at slots 1 and 3 only
    part = _cube(spark, [(1, "p", "q", "r", 1, 1), (3, "p", "q", "r", 1, 1)])
    got = fetch_absent(part, 0, 5, ["p", "*", "*"], RES, DUR)
    assert sorted(r["bucket"] for r in got.collect()) == [0, 2, 4]
    # regex patterns work (matcher family shared with fetch)
    got_re = fetch_absent(part, 0, 5, [Re("p|nope"), "*", "*"], RES, DUR)
    assert sorted(r["bucket"] for r in got_re.collect()) == [0, 2, 4]
    # from == to -> empty frame; reversed range raises
    assert fetch_absent(rollup_cube, 3, 3, ["a", "b", "c"], RES, DUR).count() == 0
    with pytest.raises(InvalidTimeRange):
        fetch_absent(rollup_cube, 5, 0, ["a", "b", "c"], RES, DUR)


def test_series_subquery_python_replay(spark):
    """PromQL subquery contract: step sums telescope the reset-adjusted
    increases, the trailing window max matches a pure-python replay
    (including warm-up windows shorter than range_steps), and results
    are layout-invariant. Series: counter 0,2,5,1(reset),4,6 at 1ns
    resolution, steps of 2 slots, range of 2 steps."""
    import pytest as _pt

    from kadiyadb_spark.query import series_subquery

    vals = [0.0, 2.0, 5.0, 1.0, 4.0, 6.0]
    rows = [("s", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "f1 string, bucket long, total double")

    def replay(outer):
        t4 = [round(v * 10000) for v in vals]
        adj = [0] + [
            t4[i] if t4[i] - t4[i - 1] < 0 else t4[i] - t4[i - 1]
            for i in range(1, len(t4))
        ]
        steps = {}
        for i, a in enumerate(adj):
            steps.setdefault(i - i % 2, []).append(a)
        ks = sorted(steps)
        inc = {k: sum(v) for k, v in steps.items()}
        f = {"max": max, "min": min, "sum": sum}[outer]
        return {
            k: (
                inc[k] / 10000.0,
                f(inc[j] for j in ks[max(0, i - 1): i + 1]) / 10000.0,
                len(ks[max(0, i - 1): i + 1]),
            )
            for i, k in enumerate(ks)
        }

    for outer in ("max", "min", "sum"):
        got = {
            r["bucket"]: (
                r["step_increase"],
                r[f"subquery_{outer}"],
                r["steps_in_range"],
            )
            for r in series_subquery(
                df, ["f1"], 2, 2, resolution=1, outer=outer
            ).collect()
        }
        assert got == replay(outer), outer

    one = series_subquery(df, ["f1"], 2, 2, resolution=1).collect()
    sixteen = series_subquery(
        df.repartition(16), ["f1"], 2, 2, resolution=1
    ).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, sixteen))

    with _pt.raises(ValueError):
        series_subquery(df, ["f1"], 0, 2, resolution=1)
    with _pt.raises(ValueError):
        series_subquery(df, ["f1"], 2, 0, resolution=1)
    with _pt.raises(ValueError):
        series_subquery(df, ["f1"], 2, 2, resolution=1, outer="avg")


def test_series_irate_observed_gaps_and_resets(spark):
    """irate contract: only observed (cnt>0) slots participate; the
    delta is reset-adjusted against the previous OBSERVED slot; the rate
    denominator is the true gap time (2-slot gap -> /2s at 1ns*1e9...);
    first observed slot is all-null baseline; layout-invariant."""
    from kadiyadb_spark.query import series_irate

    RES = 1_000_000_000  # 1s slots in ns
    rows = [
        ("s", 0 * RES, 10.0, 1.0),
        ("s", 1 * RES, 0.0, 0.0),   # gap (zero-filled)
        ("s", 2 * RES, 16.0, 2.0),  # +6 over 2 slots -> irate 3/s
        ("s", 3 * RES, 4.0, 1.0),   # reset: irate = 4/s
    ]
    df = spark.createDataFrame(rows, "f1 string, bucket long, total double, cnt double")
    got = {
        r["bucket"] // RES: (
            r["idelta"], r["irate_per_sec"], r["gap_slots"]
        )
        for r in series_irate(df, ["f1"], resolution=RES).collect()
    }
    assert set(got) == {0, 2, 3}  # sparse: the gap slot emits nothing
    assert got[0] == (None, None, None)
    assert got[2] == (6.0, 3.0, 2)
    assert got[3] == (4.0, 4.0, 1)

    one = sorted(map(tuple, series_irate(df.coalesce(1), ["f1"], resolution=RES).collect()))
    many = sorted(map(tuple, series_irate(df.repartition(16), ["f1"], resolution=RES).collect()))
    assert one == many


def test_fetch_rule_group_matches_per_rule_alerts(spark):
    """Rule-group contract: the one-scan batch evaluation equals running
    series_alerts rule by rule over each pattern's dense fetch (above-
    threshold rules only, where sparse == dense), and validation rejects
    non-positive thresholds, bad for_slots and empty groups."""
    import pytest as _pt

    from kadiyadb_spark.query import fetch, fetch_rule_group, series_alerts

    res, dur, lo, hi = 1, 5, 0, 10
    rows = [
        ("a", "u", t, v)
        for t, v in ((0, 3.0), (1, 4.0), (2, 1.0), (3, 5.0), (4, 6.0), (5, 2.5), (6, 7.0))
    ] + [("b", "w", t, 1.5) for t in (2, 3, 7)]
    df = spark.createDataFrame(rows, "x string, y string, ts long, v double")
    cube = track_batch(
        df, fields=["x", "y"], ts_col="ts", total_col="v",
        resolution=res, duration=dur,
    )
    rules = {
        "a_hot": {"pattern": ["a", "*"], "threshold": 2.0, "for_slots": 2},
        "b_any": {"pattern": ["b", "*"], "threshold": 1.0, "for_slots": 1},
    }
    got = fetch_rule_group(cube, lo, hi, rules, resolution=res, duration=dur)
    grows = {
        (r["query"], r["f1"], r["f2"], r["pending_start"], r["firing_start"],
         r["run_end"], r["n_slots"], r["peak"])
        for r in got.collect()
    }
    exp = set()
    for name, r in rules.items():
        dense = fetch(cube, lo, hi, r["pattern"], res, dur)
        al = series_alerts(
            dense, ["f1", "f2"], r["threshold"], for_slots=r["for_slots"],
            resolution=res,
        )
        for x in al.collect():
            exp.add((name, x["f1"], x["f2"], x["pending_start"],
                     x["firing_start"], x["run_end"], x["n_slots"], x["peak"]))
    assert grows == exp and grows

    with _pt.raises(ValueError):
        fetch_rule_group(cube, lo, hi, {}, resolution=res, duration=dur)
    with _pt.raises(ValueError):
        fetch_rule_group(
            cube, lo, hi,
            {"bad": {"pattern": ["a", "*"], "threshold": 0.0}},
            resolution=res, duration=dur,
        )
    with _pt.raises(ValueError):
        fetch_rule_group(
            cube, lo, hi,
            {"bad": {"pattern": ["a", "*"], "threshold": 1.0, "for_slots": 0}},
            resolution=res, duration=dur,
        )


def test_fetch_rule_group_below_and_absent_kinds(spark):
    """r13 (VERDICT r12 item 8): BELOW rules evaluate on the dense frame
    (a missing slot zero-fills and 0 <= threshold breaches), ABSENT rules
    fire on runs of slots with no matching series at all (NULL series
    columns, NULL peak), and both compose with an above rule in one group.

    Fixture: series ('a','u') observed at slots 0,1,4,5 of [0,10) with
    values 3,4,5,1 — below rule thr 2 for 2: slots 2,3 (zero-fill) and
    5 breach -> one run [2,4) of length 2 (slot 5 is a singleton run cut
    by slot 4's 5.0 and for_slots=2 drops it... slot 5 value 1.0 breaches
    but 6..9 zero-fill also breach -> run [5,10) length 5). Absent rule on
    ('b','w') observed at 2,3,7: absent runs [0,2) len 2, [4,7) len 3,
    [8,10) len 2 -> with for_slots 3 only [4,7) fires."""
    from kadiyadb_spark.query import fetch_rule_group

    res, dur, lo, hi = 1, 5, 0, 10
    rows = [("a", "u", 0, 3.0), ("a", "u", 1, 4.0), ("a", "u", 4, 5.0),
            ("a", "u", 5, 1.0)] + [("b", "w", t, 1.5) for t in (2, 3, 7)]
    df = spark.createDataFrame(rows, "x string, y string, ts long, v double")
    cube = track_batch(
        df, fields=["x", "y"], ts_col="ts", total_col="v",
        resolution=res, duration=dur,
    )
    rules = {
        "a_quiet": {"pattern": ["a", "*"], "threshold": 2.0, "for_slots": 2,
                    "above": False},
        "b_missing": {"pattern": ["b", "*"], "absent": True, "for_slots": 3},
        "a_hot": {"pattern": ["a", "*"], "threshold": 3.0, "for_slots": 2},
    }
    got = {
        (r["query"], r["f1"], r["f2"], r["pending_start"], r["run_end"],
         r["n_slots"], r["peak"])
        for r in fetch_rule_group(cube, lo, hi, rules,
                                  resolution=res, duration=dur).collect()
    }
    assert got == {
        # below: zero-filled slots 2,3 breach; observed 1.0 at 5 + 6..9
        ("a_quiet", "a", "u", 2, 4, 2, 0.0),          # peak = max(0,0) = 0
        ("a_quiet", "a", "u", 5, 10, 5, 1.0),
        # absent: the single >=3-slot hole, series cols and peak NULL
        ("b_missing", None, None, 4, 7, 3, None),
        # above rule unchanged alongside
        ("a_hot", "a", "u", 0, 2, 2, 4.0),
    }


def test_fetch_rule_group_silent_series_and_subslot_window(spark):
    """Two r13 fine-print pins. (1) PromQL parity of BELOW rules: the
    series universe is the series OBSERVED in the window — ('a','v'),
    active only BEFORE the window, contributes no grid rows and cannot
    fire even though its in-window volume is 0 (and ABSENT stays quiet
    because sibling ('a','u') still matches the pattern); a Prometheus
    ``<`` rule over a range behaves identically. (2) A sub-slot window
    (from_b == to_b) returns the EMPTY frame for every rule kind instead
    of raising from an inverted grid sequence (pre-fix: SparkRuntime
    'Illegal sequence boundaries' for absent/below groups)."""
    from kadiyadb_spark.query import fetch_rule_group

    res, dur = 1, 5
    rows = [("a", "v", 0, 9.0), ("a", "v", 1, 9.0)] + [
        ("a", "u", t, 9.0) for t in (4, 5, 6, 7)
    ]
    df = spark.createDataFrame(rows, "x string, y string, ts long, v double")
    cube = track_batch(
        df, fields=["x", "y"], ts_col="ts", total_col="v",
        resolution=res, duration=dur,
    )
    rules = {
        "quiet": {"pattern": ["a", "*"], "threshold": 2.0, "for_slots": 2,
                  "above": False},
        "gone": {"pattern": ["a", "*"], "absent": True, "for_slots": 2},
    }
    got = fetch_rule_group(cube, 4, 8, rules, resolution=res, duration=dur)
    # ('a','u') is loud in [4,8) -> below never breaches; ('a','v') is
    # fully silent in-window -> invisible to the below rule (PromQL
    # parity), and absent stays quiet because 'a_u' matched every slot.
    assert got.collect() == []

    sub = fetch_rule_group(cube, 4, 4, rules, resolution=res, duration=dur)
    assert sub.collect() == []
    assert {"query", "pending_start", "firing_start", "run_end",
            "n_slots", "peak"} <= set(sub.columns)


def test_fetch_rule_group_below_membership_is_per_epoch(spark):
    """Below-rule densification follows fetch's per-EPOCH membership (O2):
    a series tracked only in epoch [0,5) zero-fills only that epoch's
    slots — it must NOT fire a run across epoch [5,10) where it never
    existed (pre-fix the full-window grid fired [2,10); fetch(densify)
    + series_alerts(above=False) produce no rows there). The rule-group
    result must equal the per-rule composition exactly."""
    from kadiyadb_spark.query import fetch, fetch_rule_group, series_alerts

    res, dur = 1, 5
    rows = [("a", "u", 0, 9.0), ("a", "u", 1, 9.0)] + [
        ("b", "w", t, 9.0) for t in range(5, 10)
    ]
    df = spark.createDataFrame(rows, "x string, y string, ts long, v double")
    cube = track_batch(
        df, fields=["x", "y"], ts_col="ts", total_col="v",
        resolution=res, duration=dur,
    )
    rules = {"a_quiet": {"pattern": ["a", "*"], "threshold": 2.0,
                         "for_slots": 2, "above": False}}
    got = {
        (r["query"], r["f1"], r["f2"], r["pending_start"], r["run_end"], r["n_slots"])
        for r in fetch_rule_group(cube, 0, 10, rules,
                                  resolution=res, duration=dur).collect()
    }
    # only epoch-0's zero-filled slots 2..4 breach: one run [2,5) len 3
    assert got == {("a_quiet", "a", "u", 2, 5, 3)}
    # and that equals the dense-fetch + series_alerts composition
    dense = fetch(cube, 0, 10, ["a", "*"], res, dur)
    al = series_alerts(dense, ["f1", "f2"], 2.0, for_slots=2,
                       above=False, resolution=res)
    assert {
        (r["f1"], r["f2"], r["pending_start"], r["run_end"], r["n_slots"])
        for r in al.collect()
    } == {("a", "u", 2, 5, 3)}

    # Shared spine and densify parity: an absent rule with for_slots 1
    # fires on exactly fetch_absent's slots, and a below rule whose
    # threshold tops every total fires on exactly the dense fetch's
    # (series, bucket) set.
    from kadiyadb_spark.query import fetch_absent

    parity = fetch_rule_group(cube, 0, 10, {
        "gone": {"pattern": ["b", "*"], "absent": True, "for_slots": 1},
        "all": {"pattern": ["a", "*"], "threshold": 100.0, "for_slots": 1,
                "above": False},
    }, resolution=res, duration=dur).collect()

    def _slots(name):
        return {
            ((r["f1"], r["f2"]), b)
            for r in parity if r["query"] == name
            for b in range(r["pending_start"], r["run_end"], res)
        }

    absent = {r["bucket"] for r in fetch_absent(cube, 0, 10, ["b", "*"], res, dur).collect()}
    assert {b for _, b in _slots("gone")} == absent == {0, 1, 2, 3, 4}
    assert _slots("gone") == {((None, None), b) for b in absent}
    assert _slots("all") == {((r["f1"], r["f2"]), r["bucket"]) for r in dense.collect()}
    assert len(_slots("all")) == 5


def test_quality_model_centroid_save_load_roundtrip(spark, tmp_path):
    """load_model accepts BOTH trained shapes: the LBFGS
    {weights, bias, dim} and the r13 centroid {s1, s0, dim} — the
    save/load pair exists so tomorrow's crawl is scored with yesterday's
    model, for either trainer."""
    from kadiyadb_spark.functions.quality_model import (
        load_model,
        save_model,
        score_quality_centroid,
    )

    model = {"s1": [3, 0, 1], "s0": [0, 2, 0], "dim": 3}
    path = str(tmp_path / "m" / "centroid.json")
    save_model(spark, model, path)
    back = load_model(spark, path)
    assert back == model
    docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    assert score_quality_centroid(docs, back).count() == 1


def test_series_group_share_reads_stored_rollup(spark):
    """group_left contract: the denominator is the STORED depth-1 rollup
    row, which write-time exactness makes equal to the sum of children —
    so shares within an (f1, bucket) group sum to 1 exactly (all
    children observed); sparse semantics; layout invariance."""
    from kadiyadb_spark.query import series_group_share

    rows = [
        ("a", "u", 0, 2.0), ("a", "v", 0, 6.0),   # shares .25/.75
        ("a", "u", 1, 5.0),                        # single child: share 1
        ("b", "w", 0, 3.0),
    ]
    df = spark.createDataFrame(rows, "x string, y string, ts long, v double")
    cube = track_batch(
        df, fields=["x", "y"], ts_col="ts", total_col="v",
        resolution=1, duration=5,
    )
    got = {
        (r["f1"], r["f2"], r["bucket"]): (r["total"], r["group_total"], r["group_share"])
        for r in series_group_share(cube, 0, 5, "*", resolution=1).collect()
    }
    assert got[("a", "u", 0)] == (2.0, 8.0, 0.25)
    assert got[("a", "v", 0)] == (6.0, 8.0, 0.75)
    assert got[("a", "u", 1)] == (5.0, 5.0, 1.0)
    assert got[("b", "w", 0)] == (3.0, 3.0, 1.0)
    assert len(got) == 4  # sparse: unobserved slots emit nothing

    one = sorted(map(tuple, series_group_share(cube.coalesce(1), 0, 5, "*", resolution=1).collect()))
    many = sorted(map(tuple, series_group_share(cube.repartition(16), 0, 5, "*", resolution=1).collect()))
    assert one == many
