"""Property-based tests (hypothesis) for the core engine invariants the
reference's golden tests imply but never state generally (SURVEY §5):

P1  write-time rollup ≡ read-time rollup: a prefix series in a rollup cube
    equals the sum of its full-depth descendants in a non-rollup cube.
P2  fetch range additivity: fetch(a,b) ∪ fetch(b,c) == fetch(a,c) for any
    slot-aligned split point b.
P3  cube mass conservation: sum(total) at each depth equals the sum of the
    tracked values; sum(cnt) equals the event count.
P4  fold associativity: tracking a batch in any 2-way split and folding
    the union (``fold_aggs``, the fold ``Database._read_fold`` runs) equals
    tracking it whole.
"""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from kadiyadb_spark.ingest import fold_aggs, track_batch
from kadiyadb_spark.query import fetch

RES, DUR = 1, 5
N_SLOTS = 15  # three epochs

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=N_SLOTS - 1),  # ts (== slot)
        st.sampled_from(["a", "b"]),  # f1
        st.sampled_from(["x", "y", "z"]),  # f2
        st.integers(min_value=-5, max_value=10),  # value (ints: exact FP)
    ),
    min_size=1,
    max_size=40,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _events_df(spark, events):
    return spark.createDataFrame(
        [Row(ts=ts, f1=f1, f2=f2, v=float(v)) for ts, f1, f2, v in events]
    )


def _cube(spark, events, rollup=True):
    return track_batch(
        _events_df(spark, events),
        fields=["f1", "f2"],
        ts_col="ts",
        total_col="v",
        resolution=RES,
        duration=DUR,
        rollup=rollup,
    )


def _rows(df):
    # "" stands in for the null f2 of depth-1 rows ("" is an illegal stored
    # value, so no collision) to keep tuples orderable.
    return sorted(
        (r["epoch"], r["f1"], r.asDict().get("f2") or "", r["bucket"], r["total"], r["cnt"])
        for r in df.collect()
    )


@given(events=events_strategy)
@SETTINGS
def test_p1_write_time_rollup_equals_read_time(spark, events):
    roll = _cube(spark, events, rollup=True)
    flat = _cube(spark, events, rollup=False)
    parents = _rows(
        roll.filter(F.col("depth") == 1).select("epoch", "f1", "f2", "bucket", "total", "cnt")
    )
    recomputed = _rows(
        flat.groupBy("epoch", "bucket", "f1")
        .agg(F.sum("total").alias("total"), F.sum("cnt").alias("cnt"))
        .select("epoch", "f1", F.lit(None).cast("string").alias("f2"), "bucket", "total", "cnt")
    )
    assert parents == recomputed


@given(events=events_strategy, split=st.integers(min_value=0, max_value=N_SLOTS))
@SETTINGS
def test_p2_fetch_range_additivity(spark, events, split):
    cube = _cube(spark, events).cache()
    whole = _rows(fetch(cube, 0, N_SLOTS, ["a", "*"], RES, DUR))
    left = _rows(fetch(cube, 0, split, ["a", "*"], RES, DUR))
    right = _rows(fetch(cube, split, N_SLOTS, ["a", "*"], RES, DUR))
    assert sorted(left + right) == whole


@given(events=events_strategy)
@SETTINGS
def test_p3_mass_conservation(spark, events):
    cube = _cube(spark, events).cache()
    expected_total = float(sum(v for _, _, _, v in events))
    expected_cnt = float(len(events))
    for depth in (1, 2):
        agg = cube.filter(F.col("depth") == depth).agg(
            F.sum("total").alias("t"), F.sum("cnt").alias("c")
        ).collect()[0]
        assert agg["t"] == pytest.approx(expected_total)
        assert agg["c"] == expected_cnt


@given(
    events=events_strategy,
    frm=st.integers(min_value=0, max_value=3 * N_SLOTS),
    to_extra=st.integers(min_value=0, max_value=3 * N_SLOTS),
)
@SETTINGS
def test_p5_fetch_floors_non_aligned_ends(spark, events, frm, to_extra):
    """Both range ends floor to slot starts (database.go:267-277): any
    mid-slot from/to is equivalent to the floored aligned range. Uses a
    coarse resolution so non-aligned timestamps exist."""
    res = 3
    to = frm + to_extra
    cube = track_batch(
        _events_df(spark, [(ts * res, f1, f2, v) for ts, f1, f2, v in events]),
        fields=["f1", "f2"],
        ts_col="ts",
        total_col="v",
        resolution=res,
        duration=res * DUR,
    ).cache()
    raw = _rows(fetch(cube, frm, to, ["a", "*"], res, res * DUR))
    aligned = _rows(fetch(cube, frm - frm % res, to - to % res, ["a", "*"], res, res * DUR))
    assert raw == aligned


@given(events=events_strategy, cut=st.integers(min_value=0, max_value=40))
@SETTINGS
def test_p4_fold_aggs_associative(spark, events, cut):
    cut = min(cut, len(events))
    first, second = events[:cut], events[cut:]
    whole = _rows(_cube(spark, events))
    if not first or not second:
        merged = _cube(spark, first or second)
    else:
        merged = (
            _cube(spark, first)
            .unionByName(_cube(spark, second))
            .groupBy("epoch", "bucket", "f1", "f2", "depth")
            .agg(*fold_aggs())
        )
    assert _rows(merged) == whole


# P6: connected_components partitions the node set into reachability classes
# with min-id representatives — checked against a pure-python union-find.
pairs_strategy = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=30,
)


@given(pairs=pairs_strategy)
@SETTINGS
def test_p6_connected_components_match_union_find(spark, pairs):
    from kadiyadb_spark.functions.dedup import connected_components

    df = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


# P7: bucketed range join == the naive quadratic definition, any window.
range_rows = st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200)), min_size=0, max_size=25)


@given(
    lrows=range_rows,
    rrows=range_rows,
    lower=st.integers(-80, 40),
    width=st.integers(1, 90),
)
@SETTINGS
def test_p7_range_join_equals_naive(spark, lrows, rrows, lower, width):
    from kadiyadb_spark.functions.timeops import range_join_bucketed

    upper = lower + width
    left = spark.createDataFrame(
        [Row(k=k, ts=ts, lid=i) for i, (k, ts) in enumerate(lrows)], "k long, ts long, lid long"
    )
    right = spark.createDataFrame(
        [Row(k=k, r_ts=ts, rid=i) for i, (k, ts) in enumerate(rrows)], "k long, r_ts long, rid long"
    )
    got = sorted((r.lid, r.rid) for r in range_join_bucketed(left, right, ["k"], lower, upper).collect())
    want = sorted(
        (i, j)
        for i, (lk, lts) in enumerate(lrows)
        for j, (rk, rts) in enumerate(rrows)
        if lk == rk and lts + lower <= rts < lts + upper
    )
    assert got == want


# ---------------------------------------------------------------- packing / shuffle

docs_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=30),
    min_size=1,
    max_size=25,
)


@given(texts=docs_strategy, seq_len=st.integers(min_value=1, max_value=7))
@SETTINGS
def test_p8_packing_conserves_tokens_and_fills_chunks(spark, texts, seq_len):
    """For ANY corpus and chunk size: (a) chunk token counts sum to the
    corpus token count, (b) every chunk except each shard's LAST holds
    exactly seq_len tokens, (c) chunk ids per shard are contiguous from 0."""
    from kadiyadb_spark.functions import packing as PK

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    n_tok_total = sum(len(t.split()) for t in texts)
    chunks = PK.pack_chunks(docs, seq_len=seq_len, num_shards=3).collect()
    assert sum(r.n_tokens for r in chunks) == n_tok_total
    by_shard = {}
    for r in chunks:
        by_shard.setdefault(r.shard, {})[r.chunk_id] = r.n_tokens
    for shard, cm in by_shard.items():
        assert sorted(cm) == list(range(len(cm)))  # contiguous from 0
        last = max(cm)
        for cid, n in cm.items():
            if cid != last:
                assert n == seq_len
            else:
                assert 1 <= n <= seq_len


@given(ids=st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40))
@SETTINGS
def test_p9_deterministic_shuffle_is_a_permutation(spark, ids):
    """For ANY id set: every row gets exactly one (shard, pos) address and
    positions per shard are exactly 1..n — the output is a permutation."""
    from kadiyadb_spark.functions.sampling import deterministic_shuffle

    docs = spark.createDataFrame([Row(doc_id=i, text="t") for i in sorted(ids)])
    out = deterministic_shuffle(docs, num_shards=4).collect()
    assert len(out) == len(ids)
    assert {r.doc_id for r in out} == ids
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


@given(
    ids=st.sets(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=40),
    weights=st.lists(st.integers(min_value=1, max_value=10), min_size=2, max_size=4),
)
@SETTINGS
def test_p10_split_assign_partitions_the_corpus(spark, ids, weights):
    """For ANY corpus and ANY normalized fraction vector: splits are
    disjoint and exhaustive (every row exactly one split), and assignment
    is a pure function of the id (stable under subsetting)."""
    from kadiyadb_spark.functions.sampling import split_assign

    total = sum(weights)
    fracs = {f"s{i}": w / total for i, w in enumerate(weights)}
    # float rounding: force exact sum-to-1 on the last split
    fracs[f"s{len(weights)-1}"] = 1.0 - sum(
        v for k, v in fracs.items() if k != f"s{len(weights)-1}"
    )
    docs = spark.createDataFrame([Row(doc_id=i, text="t") for i in sorted(ids)])
    out = split_assign(docs, fracs).collect()
    assert len(out) == len(ids)
    assert all(r.split in fracs for r in out)
    split_of = {r.doc_id: r.split for r in out}
    some = sorted(ids)[: max(1, len(ids) // 2)]
    sub = split_assign(
        spark.createDataFrame([Row(doc_id=i, text="t") for i in some]), fracs
    ).collect()
    assert all(split_of[r.doc_id] == r.split for r in sub)


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=500), st.sampled_from(["g0", "g1", "g2"])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_p11_sample_per_group_exact_quota(spark, rows, k):
    """For ANY table and k: each group returns exactly min(k, |group|) rows,
    and the sample is a subset of the group."""
    from kadiyadb_spark.functions.sampling import sample_per_group

    df = spark.createDataFrame([Row(doc_id=i, source=g) for i, g in rows])
    out = sample_per_group(df, k=k, group_col="source").collect()
    groups = {}
    for i, g in rows:
        groups.setdefault(g, set()).add(i)
    got = {}
    for r in out:
        got.setdefault(r.source, set()).add(r.doc_id)
    for g, members in groups.items():
        assert len(got.get(g, set())) == min(k, len(members))
        assert got.get(g, set()) <= members


@given(
    n_tokens=st.integers(min_value=1, max_value=60),
    chunk=st.integers(min_value=2, max_value=12),
    stride_delta=st.integers(min_value=1, max_value=11),
)
@SETTINGS
def test_p7_chunking_covers_every_token_in_order(spark, n_tokens, chunk, stride_delta):
    """Every token appears in some chunk, order is preserved, and
    concatenating each chunk's first `stride` tokens (plus the last chunk's
    tail) reconstructs the document exactly — no token lost or duplicated
    outside the declared overlap."""
    from kadiyadb_spark.functions import text as TX

    stride = min(stride_delta, chunk)  # stride <= chunk (overlapping windows)
    toks = [f"t{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([Row(doc_id=0, text=" ".join(toks))])
    rows = sorted(
        TX.chunk_documents(df, chunk_words=chunk, stride=stride).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert rows[0].chunk_idx == 0
    assert [r.chunk_idx for r in rows] == list(range(len(rows)))
    rebuilt = []
    for i, r in enumerate(rows):
        words = r.chunk.split(" ")
        assert r.n_tokens == len(words)
        start = r.chunk_idx * stride
        assert words == toks[start : start + chunk]  # window content exact
        rebuilt.extend(words if i == len(rows) - 1 else words[:stride])
    # the last chunk may re-cover tokens earlier chunks already emitted
    assert rebuilt[: len(toks)] == toks or rebuilt == toks
    covered = {w for r in rows for w in r.chunk.split(" ")}
    assert covered == set(toks)


def test_genlog_commit_race_raises(spark, tmp_path):
    """Two writers committing over the same base generation: the second
    must RAISE (lost race), never silently clobber — the single-writer
    assumption is enforced, not assumed."""
    from kadiyadb_spark.manifest import GenLog

    log = GenLog(spark, str(tmp_path / "log"))
    m = log.read()
    log.commit({"live": "a"}, m["gen"])
    with pytest.raises(RuntimeError):
        log.commit({"live": "b"}, m["gen"])  # same prev_gen: race lost
    assert log.read()["live"] == "a"
    # the winner's successor commit proceeds normally
    m2 = log.read()
    log.commit({"live": "c"}, m2["gen"])
    assert log.read()["live"] == "c"


@given(events=events_strategy, factor=st.integers(min_value=1, max_value=7))
@SETTINGS
def test_p12_downsample_conserves_mass_and_nests_buckets(spark, events, factor):
    """series_downsample at ANY factor conserves total/cnt mass per series
    and emits only buckets aligned to the coarse grid."""
    from kadiyadb_spark.query import series_downsample

    dense = fetch(_cube(spark, events), 0, N_SLOTS, ["a", "*"], RES, DUR)
    coarse = series_downsample(dense, ["f1", "f2"], factor=factor, resolution=RES)
    fine = dense.groupBy("f1", "f2").agg(F.sum("total").alias("t"), F.sum("cnt").alias("c"))
    agg = coarse.groupBy("f1", "f2").agg(F.sum("total").alias("t"), F.sum("cnt").alias("c"))
    f = {(r["f1"], r["f2"]): (r["t"], r["c"]) for r in fine.collect()}
    g = {(r["f1"], r["f2"]): (r["t"], r["c"]) for r in agg.collect()}
    assert set(f) == set(g)
    for k in f:
        assert g[k][0] == pytest.approx(f[k][0], abs=1e-3)  # 4dp rounding per coarse slot
        assert g[k][1] == pytest.approx(f[k][1], abs=1e-3)
    for r in coarse.collect():
        assert r["bucket"] % (factor * RES) == 0


@given(events=events_strategy)
@SETTINGS
def test_p13_series_ratio_matches_bruteforce(spark, events):
    """series_ratio equals the python brute-force ratio at every bucket."""
    from kadiyadb_spark.query import series_ratio

    cube = _cube(spark, events)
    got = {
        r["bucket"]: (r["num_total"], r["den_total"], r["ratio"])
        for r in series_ratio(cube, 0, N_SLOTS, ["a"], ["b"], resolution=RES).collect()
    }
    num, den = {}, {}
    for ts, f1, _f2, v in events:
        d = num if f1 == "a" else den
        d[ts] = d.get(ts, 0) + v
    def r4(x):
        import math
        return None if x is None else math.floor(x * 10000 + 0.5) / 10000
    for b in set(num) | set(den):
        n, d = num.get(b), den.get(b)
        ratio = (n / d) if (n is not None and d not in (None, 0)) else None
        assert got[b] == (r4(float(n)) if n is not None else None,
                          r4(float(d)) if d is not None else None,
                          r4(ratio))


@given(
    events=events_strategy,
    cut=st.integers(min_value=0, max_value=N_SLOTS),
)
@SETTINGS
def test_p14_rollup_cascade_equals_direct_coarse_track(spark, events, cut, tmp_path_factory):
    """Continuous aggregate exactness: tracking any event split into src and
    refreshing dst twice must equal tracking EVERYTHING directly at the
    coarse resolution — for every series, slot, and depth."""
    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database, rollup_refresh

    tmp = tmp_path_factory.mktemp("cascade")
    src = Database.open(
        spark, str(tmp / "s"), Params(duration=5, resolution=1, retention=15, fields=("f1", "f2"))
    )
    dst = Database.open(
        spark, str(tmp / "d"), Params(duration=15, resolution=5, retention=15, fields=("f1", "f2"))
    )
    a = [e for e in events if e[0] < cut]
    b = [e for e in events if e[0] >= cut]
    for half in (a, b):
        if half:
            src.track(_events_df(spark, half), total_col="v")
            rollup_refresh(src, dst)
    direct = track_batch(
        _events_df(spark, events), fields=["f1", "f2"], ts_col="ts", total_col="v",
        resolution=5, duration=15,
    )
    assert _rows(dst.cube()) == _rows(direct)


frame_strategy = st.lists(
    st.integers(min_value=-99995, max_value=99995),  # value*1e4 as int: any 4dp double
    min_size=1,
    max_size=24,
)


@given(vals4=frame_strategy, win=st.integers(min_value=1, max_value=6))
@SETTINGS
def test_p11_stddev_over_time_matches_numpy(spark, vals4, win):
    """P11: the exact-operand windowed variance equals numpy's population
    std over the same trailing window, for ANY 4dp-quantized frame —
    the construction behind series_stddev_over_time/series_anomaly/
    series_agg_by's spread columns."""
    import math

    import numpy as np

    from kadiyadb_spark.query import series_stddev_over_time

    vals = [v / 10000.0 for v in vals4]
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)],
        "f1 string, bucket long, total double",
    )
    got = {
        r.bucket: (r.win_mean, r.win_stdvar, r.win_stddev)
        for r in series_stddev_over_time(df, ["f1"], window_slots=win).collect()
    }
    for i in range(len(vals)):
        if i + 1 < win:
            assert got[i] == (None, None, None)
            continue
        w = np.array(vals[i - win + 1 : i + 1], dtype=np.float64)
        exp_mean = round(math.floor((w.mean()) * 10000 + 0.5)) / 10000
        # numpy accumulates doubles; compare at the shared 4dp contract
        assert got[i][0] == pytest.approx(exp_mean, abs=2e-4)
        assert got[i][1] == pytest.approx(float(w.var()), abs=2e-4)
        assert got[i][2] == pytest.approx(float(w.std()), abs=2e-4)


@given(vals4=frame_strategy, thr4=st.integers(min_value=-50000, max_value=50000),
       for_slots=st.integers(min_value=1, max_value=4))
@SETTINGS
def test_p12_alerts_match_naive_scan(spark, vals4, thr4, for_slots):
    """P12: series_alerts equals a naive python scan of the same rule
    (consecutive breaches >= for_slots) for ANY frame/threshold."""
    from kadiyadb_spark.query import series_alerts

    vals = [v / 10000.0 for v in vals4]
    thr = thr4 / 10000.0
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)],
        "f1 string, bucket long, total double",
    )
    got = sorted(
        (r.pending_start, r.run_end, r.n_slots, r.peak)
        for r in series_alerts(
            df, ["f1"], threshold=thr, for_slots=for_slots, resolution=1
        ).collect()
    )
    runs, start = [], None
    for i, v in enumerate(vals + [None]):  # sentinel closes a trailing run
        if v is not None and round(v * 10000) >= thr4:
            start = i if start is None else start
        elif start is not None:
            n = i - start
            if n >= for_slots:
                runs.append((start, i, n, max(vals[start:i])))
            start = None
    assert got == sorted(runs)


@given(
    texts=st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=12), min_size=2, max_size=12
    ),
    max_dist=st.integers(min_value=0, max_value=4),
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_p13_fuzzy_length_blocking_is_lossless(spark, texts, max_dist):
    """P13: fuzzy_near_duplicates' same+adjacent length-bucket blocking
    finds EXACTLY the brute-force pair set {(a, b): lev(a, b) <= d} — the
    losslessness claim (edit distance >= length delta) as a property, not
    an example."""
    from kadiyadb_spark.functions.dedup import fuzzy_near_duplicates

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_near_duplicates(docs, max_dist=max_dist).collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    exp = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = lev(texts[i], texts[j])
            if d <= max_dist:
                exp[(i, j)] = d
    assert got == exp


@given(
    texts=st.lists(
        st.text(alphabet="abcdefgh ", min_size=8, max_size=40),
        min_size=2,
        max_size=8,
    ),
    max_df=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_p14_containment_matches_python_set_arithmetic(spark, texts, max_df):
    """P14: containment_pairs equals python set arithmetic over the same
    rare-shingle profiles (inverted-index blocking introduces and loses
    nothing; the max_df stoplist defines the profile on both sides)."""
    from collections import Counter

    from kadiyadb_spark.functions.dedup import containment_pairs

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.size_a, r.size_b)
        for r in containment_pairs(
            docs, max_df=max_df, threshold=0.0001
        ).collect()
    }

    def norm(t):
        return " ".join(t.lower().split())

    def shingles(t):
        # mirror shingles_expr exactly: sequence(1, greatest(n-7, 1)) means
        # even an EMPTY normalized text emits one (empty) shingle
        n = norm(t)
        if len(n) <= 8:
            return {n[:8]}
        return {n[i : i + 8] for i in range(len(n) - 7)}

    profs = [shingles(t) for t in texts]
    df_ct = Counter(sh for p in profs for sh in p)
    rare = [{sh for sh in p if df_ct[sh] <= max_df} for p in profs]
    exp = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = len(rare[i] & rare[j])
            if inter:
                exp[(i, j)] = (inter, len(rare[i]), len(rare[j]))
    assert got == exp


@given(
    vals4=frame_strategy,
    win=st.integers(min_value=2, max_value=6),
    series=st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_p15_anomaly_cumsum_window_matches_bruteforce(spark, vals4, win, series):
    """P15: series_anomaly's cumulative-sum window construction (r09:
    sliding sums replaced by differences of running decimal folds +
    lag-centered exact variance) equals a brute-force python replay of
    the documented semantics for ANY 4dp frame, any window, multiple
    series — incl. the flat-baseline (var exactly 0 -> null z) and
    not-enough-history cases."""
    import math

    rows = [
        (f"s{j}", i, v / 10000.0)
        for j in range(series)
        for i, v in enumerate(vals4)
    ]
    df = spark.createDataFrame(rows, "f1 string, bucket long, total double")
    from kadiyadb_spark.query import series_anomaly

    got = {
        (r.f1, r.bucket): (r.baseline_mean, r.zscore, r.is_anomaly)
        for r in series_anomaly(df, ["f1"], window_slots=win, z_thresh=2.0).collect()
    }
    for j in range(series):
        for i in range(len(vals4)):
            mean, z, flag = got[(f"s{j}", i)]
            w = vals4[max(0, i - win) : i]
            if len(w) < win:
                assert (mean, z, flag) == (None, None, False)
                continue
            s1, s2, m = sum(w), sum(x * x for x in w), w[0]
            n = win
            var4 = (n * (s2 - 2 * m * s1 + n * m * m) - (s1 - n * m) ** 2) / (
                n * (n - 1.0)
            )
            exp_mean = math.floor((s1 / n / 10000.0) * 10000 + 0.5) / 10000
            assert mean == exp_mean
            if var4 <= 0:
                assert z is None and flag is False
            else:
                exp_z = (vals4[i] - s1 / n) / math.sqrt(var4)
                exp_z4 = math.floor(exp_z * 10000 + 0.5) / 10000
                assert z == exp_z4
                assert flag == (abs(exp_z4) >= 2.0)


@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=-(10**6), max_value=10**6),  # 4dp scaled
        ),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_p16_exact_quantiles_match_numpy(spark, vals):
    """P16: exact_quantiles on ARBITRARY 4dp data — every group size, tie
    layout and sign, including 1-row groups (residue (c) closure). EXACT
    equality against a pure-python integer replay of the construction
    (this is the cross-engine guarantee: identical integers, one shared
    IEEE division), plus numpy's 'linear' percentile within one round4
    step (the SEMANTIC check — numpy's different interpolation op order
    can land one ulp across an exact .00005 boundary, e.g. 204519/20000,
    which is precisely why the construction exists)."""
    import math

    import numpy as np

    from kadiyadb_spark.functions.profile import exact_quantiles

    rows = [(g, x4 / 10000.0) for g, x4 in vals]
    df = spark.createDataFrame(rows, "g string, v double").repartition(5)
    got = {r["g"]: r for r in exact_quantiles(df, "v", ["g"]).collect()}
    by_g: dict = {}
    for g, x4 in vals:
        by_g.setdefault(g, []).append(x4)

    def replay(xs4, num, den):
        s = sorted(xs4)
        n = len(s)
        pos = (n - 1) * num
        k, rem = pos // den, pos % den
        lo = s[k]
        hi = s[k + 1] if k + 1 < n else s[k]
        v = ((den - rem) * lo + rem * hi) / (den * 10000.0)
        return math.floor(v * 10000 + 0.5) / 10000

    for g, xs4 in by_g.items():
        for name, (num, den), p in (
            ("p25", (1, 4), 25),
            ("p50", (1, 2), 50),
            ("p75", (3, 4), 75),
        ):
            assert got[g][name] == replay(xs4, num, den), (g, name)
            want = float(np.percentile([x / 10000.0 for x in xs4], p))
            assert abs(got[g][name] - want) < 1.1e-4, (g, name, got[g][name], want)
        assert got[g]["n"] == len(xs4)


@given(
    ids=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(min_value=0, max_value=500)),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=2, max_value=8),
)
@SETTINGS
def test_p17_kmv_equals_python_min_k_replay(spark, ids, k):
    """P17: the distributed KMV build (bounded Arrow candidate pass +
    array-op merge) equals a pure-python min-k over md5 — for any key
    multiset, group layout and k; estimates are exact below saturation."""
    import hashlib

    from kadiyadb_spark.functions.sketch import kmv_estimate_expr, kmv_sketch

    df = spark.createDataFrame(ids, "g string, uid long").repartition(6)
    got = {r["g"]: r["kmv"] for r in kmv_sketch(df, "uid", ["g"], k=k).collect()}

    def h(u):
        return int(hashlib.md5(f"kmv{u}".encode()).hexdigest()[:15], 16)

    by_g: dict = {}
    for g, u in ids:
        by_g.setdefault(g, set()).add(u)
    for g, us in by_g.items():
        want = sorted(h(u) for u in us)[:k]
        assert got[g] == want, (g, k)
    est = {
        r["g"]: r["est"]
        for r in kmv_sketch(df, "uid", ["g"], k=k)
        .select("g", kmv_estimate_expr(F.col("kmv"), k).alias("est"))
        .collect()
    }
    for g, us in by_g.items():
        if len(us) < k:
            assert est[g] == float(len(us))


@given(data=st.data())
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_p18_re_prune_whitelist_dialect_agreement(spark, data):
    """P18 (ADVICE r09): for every pattern the _re_prune_safe WHITELIST
    admits, Python re.fullmatch (the manifest-prune replay) and the JVM's
    anchored rlike (the actual filter) must agree on every value — the
    invariant that makes a Python no-match a safe segment skip. Patterns
    are built from the whitelisted constructs; values from the dim-value
    alphabet plus adversarial near-misses."""
    import re as _re

    from kadiyadb_spark.database import _re_prune_safe

    atom = st.one_of(
        st.text(alphabet="abcxyz019", min_size=1, max_size=3),
        st.sampled_from(["[a-c]", "[xy]", "[^z]", ".", "a+", "b?", "c*",
                         "(?:ab|cd)", "a{1,2}", "x|y"]),
    )
    pat = "".join(data.draw(st.lists(atom, min_size=1, max_size=4)))
    try:
        _re.compile(pat)
    except _re.error:
        return  # Re() would refuse it at construction
    if not _re_prune_safe(pat):
        return  # outside the whitelist: pruning never acts on it
    vals = data.draw(st.lists(
        st.text(alphabet="abcxyz019|.?*", min_size=0, max_size=6),
        min_size=1, max_size=8,
    ))
    rx = _re.compile(f"(?:{pat})\\Z")
    python_side = [bool(rx.fullmatch(v)) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    jvm = [r["m"] for r in df.select(
        F.col("v").rlike(f"^(?:{pat})$").alias("m")).collect()]
    assert python_side == jvm, (pat, vals, python_side, jvm)


@SETTINGS
@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200)), min_size=1, max_size=25
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200), st.integers(-50, 50)),
        min_size=1,
        max_size=25,
    ),
    tol=st.one_of(st.none(), st.integers(0, 60)),
    direction=st.sampled_from(["backward", "forward"]),
)
def test_p19_merge_asof_matches_pandas(spark, lrows, rrows, tol, direction):
    """timeops.merge_asof vs pandas.merge_asof itself — an INDEPENDENT
    implementation of the contract semantics (by-group, both directions,
    tolerance as nearest-or-null)."""
    import pandas as pd

    from kadiyadb_spark.functions.timeops import merge_asof

    # contract: right unique per (by, ts)
    rdict = {}
    for g, ts, v in rrows:
        rdict[(g, ts)] = v
    runique = [(g, ts, float(v)) for (g, ts), v in rdict.items()]
    left = spark.createDataFrame(
        [(i, g, ts) for i, (g, ts) in enumerate(lrows)], "lid long, g long, ts long"
    )
    right = spark.createDataFrame(runique, "g long, ts long, val double")
    got = {
        r["lid"]: r["val"]
        for r in merge_asof(
            left, right, "ts", ["g"], ["val"], tolerance=tol,
            direction=direction, left_order_col="lid",
        ).collect()
    }
    lpd = pd.DataFrame([(i, g, ts) for i, (g, ts) in enumerate(lrows)],
                       columns=["lid", "g", "ts"]).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(runique, columns=["g", "ts", "val"]).sort_values("ts", kind="stable")
    exp_df = pd.merge_asof(
        lpd, rpd, on="ts", by="g", direction=direction,
        tolerance=tol if tol is None else tol,
        allow_exact_matches=True,
    )
    exp = {int(r.lid): (None if pd.isna(r.val) else float(r.val))
           for r in exp_df.itertuples()}
    assert got == exp


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40), st.sampled_from("abc")),
        min_size=1,
        max_size=30,
    )
)
def test_p20_scd2_matches_python_replay(spark, rows):
    """scd2_intervals vs a pure-python run-length replay over the same
    (ts, order) total order."""
    from kadiyadb_spark.functions.analytics import scd2_intervals

    df = spark.createDataFrame(
        [(k, i, a, ts) for i, (k, ts, a) in enumerate(rows)],
        "k long, oid long, attr string, ts long",
    )
    got = sorted(
        (r["k"], r["version"], r["attr"], r["valid_from"], r["valid_to"], r["n_rows"])
        for r in scd2_intervals(df, "k", "attr", "ts", order_cols=["oid"]).collect()
    )
    bykey = {}
    for i, (k, ts, a) in enumerate(rows):
        bykey.setdefault(k, []).append((ts, i, a))
    exp = []
    for k, items in bykey.items():
        items.sort()
        runs = []
        for ts, _, a in items:
            if not runs or runs[-1][0] != a:
                runs.append([a, ts, 0])
            runs[-1][2] += 1
        for v, (a, ts, n) in enumerate(runs, 1):
            nxt = runs[v][1] if v < len(runs) else None
            exp.append((k, v, a, ts, nxt, n))
    assert got == sorted(exp)


@SETTINGS
@given(
    keys=st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=40, unique=True),
    probes=st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=60),
)
def test_p21_bloom_never_drops_a_member(spark, keys, probes):
    """The Bloom contract the lossless join reduction rests on: NO false
    negatives, for any key set and any probe set."""
    from kadiyadb_spark.functions.runtime_filter import bloom_build, bloom_probe

    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    bloom = bloom_build(kdf, "k", m_bits=512, n_hashes=3)
    pdf = spark.createDataFrame([(p,) for p in set(probes) | set(keys)], "k long")
    kept = {
        r["k"]
        for r in bloom_probe(pdf, "k", bloom, m_bits=512, n_hashes=3).collect()
    }
    assert set(keys) <= kept


@SETTINGS
@given(
    host=st.sampled_from(["A.Example.COM", "x.y.z.org", "localhost"]),
    path=st.sampled_from(["", "/", "/p/1", "/a/b/", "/q//"]),
    params=st.lists(
        st.sampled_from(["id=7", "utm_source=x", "b=2", "a=1", "ref=r", "z="]),
        max_size=4,
    ),
    scheme=st.sampled_from(["https", "HTTPS", "http"]),
)
def test_p22_url_canonicalize_is_idempotent(spark, host, path, params, scheme):
    """canon(canon(u)) == canon(u): the canonical form is a fixed point,
    so re-running the cleanup stage can never split a dedup group."""
    from kadiyadb_spark.functions.web import url_canonicalize

    url = f"{scheme}://{host}{path}" + ("?" + "&".join(params) if params else "")
    df = spark.createDataFrame([(0, url)], "doc_id long, url string")
    once = url_canonicalize(df).collect()[0]["canonical_url"]
    df2 = spark.createDataFrame([(0, once)], "doc_id long, url string")
    twice = url_canonicalize(df2).collect()[0]["canonical_url"]
    assert twice == once


@given(
    labels=st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=1, max_size=5
    ),
    suffix=st.sampled_from(["co.uk", "com.au", "co.jp", "com", "org", "unknowntld"]),
)
@SETTINGS
def test_p23_registrable_domain_is_host_suffix_with_rule_depth(spark, labels, suffix):
    """P23: for any host, registrable_domain(host) is a dot-suffix of the
    host, and its label depth follows the PSL rule exactly: 3 when the
    last two labels are a vendored public suffix (and the host has >= 3
    labels), else min(2, n_labels)."""
    from kadiyadb_spark.functions.psl import PSL_TWO_LEVEL
    from kadiyadb_spark.functions.web import url_components

    host = ".".join(labels + [suffix])
    df = spark.createDataFrame([(0, f"https://{host}/p")], "doc_id long, url string")
    # psl=None: this property states the two-label EXPRESSION rule; the
    # default snapshot path adds deeper rules with their own depth logic
    # (pinned by test_url_components_default_snapshot_path)
    reg = url_components(df, psl=None).collect()[0]["registrable_domain"]
    assert host == reg or host.endswith("." + reg)
    n = host.count(".") + 1
    last2 = ".".join(host.split(".")[-2:])
    want_depth = 3 if (n >= 3 and last2 in PSL_TWO_LEVEL) else min(2, n)
    assert reg.count(".") + 1 == want_depth


@given(
    body=st.text(alphabet="0123456789", min_size=12, max_size=18),
    flip_pos=st.integers(min_value=0, max_value=17),
    flip_delta=st.integers(min_value=1, max_value=9),
)
@SETTINGS
def test_p24_luhn_check_digit_roundtrip_and_single_digit_detection(
    spark, body, flip_pos, flip_delta
):
    """P24: appending the computed Luhn check digit always validates, and
    corrupting any single digit always invalidates (the property Luhn was
    designed for — detects every single-digit error)."""
    from kadiyadb_spark.functions.privacy import luhn_valid_expr

    # compute the check digit in pure Python (independent replay)
    def luhn_sum(digits: str) -> int:
        total = 0
        for i, ch in enumerate(reversed(digits)):
            d = ord(ch) - 48
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total

    check = (10 - luhn_sum(body + "0") % 10) % 10
    good = body + str(check)
    pos = flip_pos % len(good)
    bad = good[:pos] + str((int(good[pos]) + flip_delta) % 10) + good[pos + 1:]
    df = spark.createDataFrame([(0, good), (1, bad)], "id long, digits string")
    got = {
        r["id"]: r["v"]
        for r in df.select(
            "id", luhn_valid_expr(F.col("digits")).alias("v")
        ).collect()
    }
    assert got[0] == 1
    assert got[1] == 0


@given(
    old_rows=st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=-3, max_value=3) | st.none(),
        max_size=8,
    ),
    new_rows=st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=-3, max_value=3) | st.none(),
        max_size=8,
    ),
)
@SETTINGS
def test_p25_snapshot_diff_matches_dict_diff(spark, old_rows, new_rows):
    """P25: snapshot_diff over keyed frames equals the plain dict diff —
    including NULL-valued rows on either side (null-safe change test)."""
    from kadiyadb_spark.functions.cdc import snapshot_diff

    schema = "k long, v long"
    old = spark.createDataFrame(list(old_rows.items()) or [(None, None)], schema).filter(
        F.col("k").isNotNull()
    )
    new = spark.createDataFrame(list(new_rows.items()) or [(None, None)], schema).filter(
        F.col("k").isNotNull()
    )
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
    want = {}
    for k in set(old_rows) | set(new_rows):
        if k not in old_rows:
            want[k] = "added"
        elif k not in new_rows:
            want[k] = "removed"
        elif old_rows[k] != new_rows[k]:
            want[k] = "changed"
    assert got == want


@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=-3, max_value=3), min_size=3, max_size=3),
        min_size=3,
        max_size=14,
    ),
    thr=st.sampled_from([0.7, 0.9, 0.97]),
)
@SETTINGS
def test_p26_semdedup_matches_greedy_by_id_replay(spark, vecs, thr):
    """P26: semdedup_prune's kept set equals an independent numpy replay of
    the spec — quantized-Lloyd assignment, then within each cluster the
    ITERATIVE GREEDY keeper in id order (r13): a vector is kept iff no
    ALREADY-KEPT lower-id member has cosine >= threshold. Unlike the r12
    any-lower-id dominance, a vector whose only dominator was itself
    dropped stays kept (zero-norm vectors never match anything)."""
    import numpy as np

    from kadiyadb_spark.functions.cluster import semdedup_prune

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    k = 2
    got = {r["vec_id"]: (r["cluster_id"], r["kept"])
           for r in semdedup_prune(
               spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
               k=k, iters=1, threshold=thr).collect()}

    X = np.array([v for _, v in rows], dtype=np.float64)
    C = X[:k].copy()
    def assign(X, C):
        t = np.floor((X[:, None, :] - C[None, :, :]) ** 2 * 1e8 + 0.5)
        return t.sum(axis=2).argmin(axis=1)
    a = assign(X, C)
    for c in range(k):
        m = X[a == c]
        if len(m):
            C[c] = np.floor(m * 1e6 + 0.5).sum(axis=0) / (1e6 * len(m))
    a = assign(X, C)
    norms = np.linalg.norm(X, axis=1)
    vn = X / np.where(norms == 0.0, 1.0, norms)[:, None]
    want = {}
    kept_by_cluster: dict[int, list[int]] = {}
    for i in range(len(rows)):  # ids are 0..n-1 in order
        dom = any(
            float(vn[j] @ vn[i]) >= thr
            for j in kept_by_cluster.get(int(a[i]), [])
        )
        if not dom:
            kept_by_cluster.setdefault(int(a[i]), []).append(i)
        want[i] = (int(a[i]), 0 if dom else 1)
    assert got == want


def test_p28_semdedup_auto_k_bounds_buckets_at_10x(spark):
    """P28 (VERDICT r12 item 6): with target_bucket set, a 10x corpus must
    NOT inflate semdedup's per-bucket n^2 — auto-k grows k with n so the
    max bucket stays within a constant factor of the target instead of
    scaling with the corpus. Deterministic synthetic corpus (seeded
    uniform, the roughly-isotropic case the docstring's balance claim is
    scoped to); measured max buckets: 61 at n=300, 75 at n=3000 for
    target 50."""
    import random

    from kadiyadb_spark.functions.cluster import semdedup_prune

    rng = random.Random(13)
    B = 50
    for n in (300, 3000):
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        flags = semdedup_prune(df, k=2, iters=2, threshold=0.99, target_bucket=B)
        sizes = [
            r["c"]
            for r in flags.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
        assert len(sizes) == max(2, -(-n // B))  # auto-k took effect
        assert sum(sizes) == n
        assert max(sizes) <= 2 * B, (
            f"n={n}: max bucket {max(sizes)} breaches 2x the {B} target"
        )


@given(
    labels=st.lists(
        st.sampled_from(["www", "shop", "a", "b2", "x-y"]), min_size=0, max_size=3
    ),
    suffix=st.sampled_from(
        ["co.uk", "com.au", "co.jp", "com", "org", "io", "unknowntld"]
    ),
)
@SETTINGS
def test_p27_default_psl_path_is_monotone_over_subset_shapes(spark, labels, suffix):
    """P27 (monotone-upgrade contract): for any host whose labels touch
    only two-label-subset rules (no jp-geographic / wildcard / exception /
    us-locality shapes), the full-snapshot DEFAULT path and the psl=None
    expression fallback resolve the identical registrable domain."""
    from kadiyadb_spark.functions.web import url_components

    host = ".".join(labels + [suffix])
    df = spark.createDataFrame([(0, f"https://{host}/p")], "doc_id long, url string")
    exp = url_components(df, psl=None).collect()[0]["registrable_domain"]
    got = url_components(df).collect()[0]["registrable_domain"]
    assert got == exp


@given(
    res=st.integers(min_value=1, max_value=7),
    k=st.integers(min_value=1, max_value=5),
    frm=st.integers(min_value=-20, max_value=120),
    to=st.integers(min_value=-20, max_value=120),
)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_p29_slot_range_spec_epochs_and_shared_validation(spark, res, k, frm, to):
    """P29 (one read path): the slot-range spec's epoch set equals the
    brute-force set — the epochs of the slots in [from_b, to_b) — and every
    Fetch-family reader raises InvalidTimeRange on exactly the same inputs.
    Plans only: every reader runs over an empty local cube and nothing is
    collected."""
    from kadiyadb_spark import schema as S
    from kadiyadb_spark.query import (
        InvalidTimeRange,
        _slot_range,
        fetch,
        fetch_absent,
        fetch_multi,
        fetch_rule_group,
        series_binop,
        series_burn_rate,
        series_group_share,
        series_ratio,
        series_sum_by,
    )

    dur = res * k
    cube = spark.createDataFrame([], S.cube_schema(2))
    readers = {
        "fetch": lambda: fetch(cube, frm, to, ["a", "*"], res, dur),
        "fetch_multi": lambda: fetch_multi(cube, frm, to, {"q": ["a", "*"]}, res, dur),
        "fetch_absent": lambda: fetch_absent(cube, frm, to, ["a", "*"], res, dur),
        "fetch_rule_group": lambda: fetch_rule_group(
            cube, frm, to,
            {"hot": {"pattern": ["a", "*"], "threshold": 1.0},
             "gone": {"pattern": ["a"], "absent": True}},
            res, dur,
        ),
        "series_sum_by": lambda: series_sum_by(cube, frm, to, ["a", "*"], [2], res, dur),
        "series_ratio": lambda: series_ratio(cube, frm, to, ["a"], ["b"], res, dur),
        "series_binop": lambda: series_binop(cube, frm, to, ["a"], ["b"], "sub", res, dur),
        "series_burn_rate": lambda: series_burn_rate(
            cube, frm, to, ["a"], ["b"], resolution=res, duration=dur
        ),
        "series_group_share": lambda: series_group_share(cube, frm, to, "a", res, dur),
    }
    raised = set()
    for name, build in readers.items():
        try:
            build()
        except InvalidTimeRange:
            raised.add(name)
    valid = 0 <= frm <= to
    assert raised == (set() if valid else set(readers))
    if valid:
        rng = _slot_range(frm, to, res, dur)
        from_b, to_b = frm // res * res, to // res * res
        assert (rng.from_b, rng.to_b, rng.empty) == (from_b, to_b, from_b == to_b)
        assert set(rng.epochs) == {s // dur * dur for s in range(from_b, to_b, res)}


# -- P30: the driver-side Fetch executor equals the Spark plan and the model --

PRES, PDUR = 2, 6  # 3 slots per epoch; odd range ends fall inside a slot
P30_VALUES = (("a", "b"), ("c", "d", "e"), ("u", "v"))
# whitelisted regexes (database._re_prune_safe): the driver path filters them
P30_RES = ("a|c|u", "[a-d]", "(?:b|e|v)", ".", "x?[bdv]", "[^a]$")
P30_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _p30_event(lo: int = 0, hi: int = 3 * PDUR):
    return st.tuples(
        st.integers(min_value=lo, max_value=hi - 1),
        *[st.sampled_from(v) for v in P30_VALUES],
        st.integers(min_value=-500, max_value=2000),  # cents
    )


# each batch is one track (one segment per epoch it touches) and touches
# all three epochs, so every epoch holds one segment per batch
p30_batch = st.tuples(
    st.lists(_p30_event(), max_size=10),
    st.tuples(*[_p30_event(e * PDUR, (e + 1) * PDUR) for e in range(3)]),
).map(lambda b: b[0] + list(b[1]))


def _p30_level(values):
    return st.one_of(
        st.sampled_from(values),
        st.just("*"),
        st.lists(st.sampled_from(values), min_size=1, max_size=2, unique=True),
        st.sampled_from(P30_RES).map(lambda p: {"re": p}),
    )


p30_pattern = st.integers(min_value=1, max_value=3).flatmap(
    lambda d: st.tuples(*[_p30_level(P30_VALUES[i]) for i in range(d)]).map(list)
)


def _p30_lib(pattern):
    from kadiyadb_spark.query import Re

    return [Re(p["re"]) if isinstance(p, dict) else p for p in pattern]


def _p30_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _p30_served_by(caplog, op):
    msgs = [r.getMessage() for r in caplog.records if r.getMessage().startswith(op + " path=")]
    return msgs[-1].split()[1] if msgs else None


@given(
    batches=st.lists(p30_batch, min_size=2, max_size=3),
    patterns=st.lists(p30_pattern, min_size=1, max_size=3),
    frm=st.integers(min_value=0, max_value=3 * PDUR + 2),
    width=st.integers(min_value=0, max_value=2 * PDUR + 3),
    densify=st.booleans(),
    pin=st.booleans(),
)
# membership is per epoch: "b" has a point in epoch 0 but none in the
# range [2, 4), so densify still owes it a zero row at bucket 2
@example(
    batches=[
        [(0, "b", "c", "u", 100), (6, "a", "c", "u", 1), (12, "a", "c", "u", 1)],
        [(1, "a", "d", "v", 5), (7, "a", "d", "v", 5), (13, "a", "d", "v", 5)],
    ],
    patterns=[["b"], [{"re": "a|b"}, "*"]],
    frm=2,
    width=2,
    densify=True,
    pin=False,
)
@P30_SETTINGS
def test_p30_driver_fetch_equals_spark_plan_and_model(
    spark, tmp_path_factory, caplog, batches, patterns, frm, width, densify, pin
):
    """P30: ``Database.fetch``/``fetch_multi`` answered on the driver
    (arrow_read) return the same rows (as a multiset) and the same schema
    as the Spark plan, over stores with two or more segments per epoch,
    every pattern kind (exact, '*', value set, whitelisted Re, prefix
    depths, mixed-depth batches), ranges with partial slots, from == to,
    multi-epoch windows and at_gen pins, densify on and off; and fetch
    equals perfbench's pure-Python CubeModel. A byte bound of -1 sends
    every read, even an empty kept set, to Spark."""
    import logging

    from kadiyadb_spark import database as dbm
    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database, _re_prune_safe
    from perfbench.model import CubeModel, diff

    assert all(_re_prune_safe(p) for p in P30_RES)
    db = Database.open(
        spark,
        str(tmp_path_factory.mktemp("p30") / "db"),
        Params(duration=PDUR, resolution=PRES, retention=10 * PDUR, fields=("x", "y", "z")),
    )
    models = []
    for i, batch in enumerate(batches):
        db.track(
            spark.createDataFrame(
                [Row(ts=ts, x=x, y=y, z=z, v=c / 100) for ts, x, y, z, c in batch]
            ),
            total_col="v",
        )
        models.append(CubeModel(PRES, PDUR))
        for b in batches[: i + 1]:
            models[-1].track(b)
    assert all(len(refs) >= 2 for refs in db._manifest()["segments"].values())
    at_gen = db.current_gen() - 1 if pin else None
    model = models[-2] if pin else models[-1]
    to = frm + width
    non_empty = frm // PRES != to // PRES

    def both(op, call):
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="kadiyadb_spark.database"):
            got = call()
        assert _p30_served_by(caplog, op) == ("path=arrow" if non_empty else "path=spark")
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dbm, "_DRIVER_READ_MAX_BYTES", -1)
            want = call()
        assert got.schema == want.schema
        rows = _p30_rows(got)
        assert rows == _p30_rows(want)
        return rows

    for pat in patterns:
        d = len(pat)
        rows = both(
            "fetch", lambda: db.fetch(frm, to, _p30_lib(pat), densify=densify, at_gen=at_gen)
        )
        expected = model.fetch(frm, to, pat) if densify else model.sparse(frm, to, pat)
        got = {(r[0], r[1 : 1 + d], r[1 + d]): (r[2 + d], r[3 + d]) for r in rows}
        assert len(got) == len(rows)
        assert diff(expected, got) == [], (pat, frm, to, densify, pin)
    batch = {f"q{i}": p for i, p in enumerate(patterns)}
    rows = both(
        "fetch_multi",
        lambda: db.fetch_multi(frm, to, {q: _p30_lib(p) for q, p in batch.items()}, at_gen=at_gen),
    )
    for q, pat in batch.items():
        d = len(pat)
        got = {(r[1], r[2 : 2 + d], r[-3]): (r[-2], r[-1]) for r in rows if r[0] == q}
        assert diff(model.sparse(frm, to, pat), got) == [], (q, pat, frm, to, pin)


def test_p30_fold_overflow_raises_on_both_paths(spark, tmp_path, monkeypatch):
    """A store whose scaled fold passes 2^53 raises the fold-overflow error
    on the driver path and on the Spark plan alike: two segments each hold
    a valid 4.6e11 total (scaled 4.6e15), and their read-time fold is
    9.2e15 > 2^53."""
    from kadiyadb_spark import database as dbm
    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    db = Database.open(
        spark, str(tmp_path / "db"), Params(duration=PDUR, resolution=PRES, retention=PDUR, fields=("x",))
    )
    for _ in range(2):
        db.track(spark.createDataFrame([Row(ts=1, x="a", v=4.6e11)]), total_col="v")
    reads = (
        lambda: db.fetch(0, PDUR, ["a"]).collect(),
        lambda: db.fetch(0, PDUR, ["*"], densify=False).collect(),
        lambda: db.fetch_multi(0, PDUR, {"q": ["a"]}).collect(),
    )
    for bound in (dbm._DRIVER_READ_MAX_BYTES, -1):
        monkeypatch.setattr(dbm, "_DRIVER_READ_MAX_BYTES", bound)
        for read in reads:
            with pytest.raises(Exception, match="fold overflow at value_dp=4"):
                read()
