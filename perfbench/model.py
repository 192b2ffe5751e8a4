"""Pure-Python reference model of the store's Track/Fetch semantics.

Track adds ``(total, 1)`` into the point at slot ``floor(ts / res)`` for
every prefix of the field path. Fetch over ``[from, to)`` returns, for
every series of the pattern's exact depth that matches it and is present
in an epoch overlapping the range, one point per in-range slot of that
epoch, zero-filled. Totals are kept in integer cents, so sums are exact.
"""

from __future__ import annotations

import re
from collections import defaultdict

from perfbench.gen import EPOCH_NS, SLOT_NS


def level_matches(level, value: str) -> bool:
    """One pattern level: ``"*"``, an exact value, a list (value set) or
    ``{"re": pattern}`` (fully anchored)."""
    if isinstance(level, dict):
        return re.fullmatch(level["re"], value) is not None
    if isinstance(level, (list, tuple, set, frozenset)):
        return value in level
    return level == "*" or level == value


def matches(pattern: list, series: tuple) -> bool:
    return len(pattern) == len(series) and all(level_matches(p, v) for p, v in zip(pattern, series))


class CubeModel:
    def __init__(self, resolution: int = SLOT_NS, duration: int = EPOCH_NS):
        self.res, self.dur = resolution, duration
        # epoch -> series (prefix tuple) -> bucket -> [cents, count]
        self.epochs: dict[int, dict[tuple, dict[int, list[int]]]] = defaultdict(
            lambda: defaultdict(dict)
        )

    def track(self, events) -> None:
        """``events``: iterable of ``(ts_ns, *fields, cents)``."""
        for ev in events:
            ts, fields, cents = ev[0], ev[1:-1], ev[-1]
            b = ts - ts % self.res
            per_series = self.epochs[b - b % self.dur]
            for d in range(1, len(fields) + 1):
                pt = per_series[fields[:d]].setdefault(b, [0, 0])
                pt[0] += cents
                pt[1] += 1

    def _bounds(self, from_ts: int, to_ts: int):
        from_b, to_b = from_ts - from_ts % self.res, to_ts - to_ts % self.res
        e_from = from_b - from_b % self.dur
        e_to = (to_b - self.res) - (to_b - self.res) % self.dur
        return from_b, to_b, e_from, e_to

    def fetch(self, from_ts: int, to_ts: int, pattern: list) -> dict[tuple, tuple[int, int]]:
        """Dense result: ``{(epoch, series, bucket): (cents, count)}``."""
        if to_ts < from_ts:
            raise ValueError("to < from")
        from_b, to_b, e_from, e_to = self._bounds(from_ts, to_ts)
        out: dict[tuple, tuple[int, int]] = {}
        if from_b == to_b:
            return out
        for e, per_series in self.epochs.items():
            if not e_from <= e <= e_to:
                continue
            lo, hi = max(e, from_b), min(e + self.dur, to_b)
            for series, pts in per_series.items():
                if not matches(pattern, series):
                    continue
                for b in range(lo, hi, self.res):
                    c, n = pts.get(b, (0, 0))
                    out[(e, series, b)] = (c, n)
        return out

    def sparse(self, from_ts: int, to_ts: int, pattern: list) -> dict[tuple, tuple[int, int]]:
        """Stored points only (no zero fill), as ``fetch_multi`` returns."""
        from_b, to_b, _, _ = self._bounds(from_ts, to_ts)
        return {
            (e, s, b): (c, n)
            for (e, s, b), (c, n) in self.fetch(from_ts, to_ts, pattern).items()
            if n and from_b <= b < to_b
        }

    def totals(self, depth: int = 1) -> dict[tuple, tuple[int, int]]:
        """``{series: (cents, count)}`` over all time at ``depth``."""
        out: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
        for per_series in self.epochs.values():
            for series, pts in per_series.items():
                if len(series) == depth:
                    acc = out[series]
                    for c, n in pts.values():
                        acc[0] += c
                        acc[1] += n
        return {s: (c, n) for s, (c, n) in out.items()}


def diff(expected: dict[tuple, tuple[int, int]], got: dict[tuple, tuple[float, float]], limit: int = 3) -> list[str]:
    """Mismatches between model points (cents, count) and store points
    (total, count); empty when they agree."""
    bad = []
    for k in expected.keys() | got.keys():
        if k not in got or k not in expected:
            bad.append(f"{k}: expected {expected.get(k)} got {got.get(k)}")
        else:
            (c, n), (t, m) = expected[k], got[k]
            if abs(t * 100 - c) > 1e-6 * max(1.0, abs(c)) or m != n:
                bad.append(f"{k}: expected ({c / 100}, {n}) got ({t}, {m})")
        if len(bad) >= limit:
            break
    return bad
