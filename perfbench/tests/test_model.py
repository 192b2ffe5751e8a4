"""The reference model on the Track/Fetch goldens of FIXTURES.md A2-A4."""

import pytest

from perfbench.model import CubeModel, diff, matches

RES, DUR = 10, 50  # rsize 5, as in the reference's epoch tests


def track(m: CubeModel, path: tuple, slot: int, totals: list[float]) -> None:
    """One event per entry of ``totals`` (each counts 1) at ``slot``."""
    m.track([(slot * RES, *path, round(t * 100)) for t in totals])


def values(points: dict, series: tuple) -> list[tuple[float, int]]:
    return [(c / 100, n) for (_, s, _), (c, n) in sorted(points.items(), key=lambda kv: kv[0][2]) if s == series]


def test_a2_prefix_rollup():
    m = CubeModel(RES, DUR)
    for slot in range(5):
        track(m, ("a", "b", "c"), slot, [1])
        track(m, ("a", "b", "d"), slot, [1, 1])
        track(m, ("a", "c", "e"), slot, [1, 1, 1])
    want = {
        ("a",): (6, 6),
        ("a", "b"): (3, 3),
        ("a", "b", "c"): (1, 1),
        ("a", "b", "d"): (2, 2),
        ("a", "c"): (3, 3),
        ("a", "c", "e"): (3, 3),
    }
    for series, point in want.items():
        got = m.fetch(0, 5 * RES, list(series))
        assert {k[1] for k in got} == {series}
        assert values(got, series) == [point] * 5


def test_a3_wildcards_exact_depth():
    m = CubeModel(RES, DUR)
    for slot in range(5):
        track(m, ("a", "b", "c"), slot, [1])
        track(m, ("a", "b", "d"), slot, [2])
        track(m, ("a", "e", "c"), slot, [3])
    series = lambda pat: {k[1] for k in m.fetch(0, 5 * RES, pat)}  # noqa: E731
    assert series(["a", "b", "*"]) == {("a", "b", "c"), ("a", "b", "d")}
    assert series(["a", "*", "c"]) == {("a", "b", "c"), ("a", "e", "c")}
    assert series(["a", "*", "*"]) == {("a", "b", "c"), ("a", "b", "d"), ("a", "e", "c")}
    assert series(["a", "*"]) == {("a", "b"), ("a", "e")}


def test_a4_zero_fill_and_chunks():
    m = CubeModel(RES, DUR)
    track(m, ("a", "b", "d"), 0, [5])
    track(m, ("a", "b", "d"), 1, [2.5, 2.5])
    assert values(m.fetch(0, 2 * RES, ["a", "b", "d"]), ("a", "b", "d")) == [(5, 1), (5, 2)]

    m = CubeModel(RES, DUR)
    track(m, ("a", "b", "c"), 0, [5])
    track(m, ("a", "b", "d"), 1, [2.5, 2.5])
    got = m.fetch(0, 2 * RES, ["a", "b", "*"])
    assert values(got, ("a", "b", "c")) == [(5, 1), (0, 0)]
    assert values(got, ("a", "b", "d")) == [(0, 0), (5, 2)]

    m = CubeModel(RES, DUR)
    m.track([(DUR - RES, "a", "b", "c", 100), (DUR, "a", "b", "c", 100)])
    got = m.fetch(DUR - RES, DUR + RES, ["a", "b", "c"])
    assert sorted((e, b) for e, _, b in got) == [(0, DUR - RES), (DUR, DUR)]


def test_a4_degenerate_ranges():
    m = CubeModel(RES, DUR)
    track(m, ("a", "b", "c"), 0, [1])
    with pytest.raises(ValueError):
        m.fetch(2 * RES, RES, ["a", "b", "c"])
    assert m.fetch(RES, RES, ["a", "b", "c"]) == {}
    # a partial slot at the end is excluded (both ends floor)
    assert len(m.fetch(0, RES + RES // 2, ["a", "b", "c"])) == 1


def test_membership_is_per_epoch():
    m = CubeModel(RES, DUR)
    track(m, ("a", "x"), 4, [1])  # epoch 0 only
    got = m.fetch(0, 2 * DUR, ["a", "x"])
    assert len(got) == 5 and {e for e, _, _ in got} == {0}
    # present in the epoch but outside the range: still a zero vector
    assert values(m.fetch(0, 2 * RES, ["a", "x"]), ("a", "x")) == [(0, 0), (0, 0)]
    assert m.sparse(0, 2 * RES, ["a", "x"]) == {}


def test_pattern_levels_and_totals():
    assert matches(["a", ["h0", "h2"]], ("a", "h2"))
    assert not matches(["a", ["h0", "h2"]], ("a", "h1"))
    assert matches([{"re": "cpu|mem"}], ("mem",))
    assert not matches([{"re": "cpu"}], ("cpux",))  # anchored
    m = CubeModel(RES, DUR)
    track(m, ("a", "b"), 0, [1, 2])
    track(m, ("c", "d"), 7, [4])
    assert m.totals(1) == {("a",): (300, 2), ("c",): (400, 1)}


def test_diff_reports_value_and_key_mismatches():
    assert diff({("k",): (150, 2)}, {("k",): (1.5, 2)}) == []
    assert diff({("k",): (150, 2)}, {("k",): (1.6, 2)})
    assert diff({("k",): (150, 2)}, {})
