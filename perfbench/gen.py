"""Seeded input generator. Pure Python: the same seed gives the same inputs.

Events are ``(ts_ns, app, metric, host, cents)`` tuples; ``cents / 100`` is
the tracked value, so the reference model can sum totals exactly. Every
property the store's behaviour depends on is an argument: apps per batch
relative to the manifest stats cap (``STATS_MAX``), epochs touched per
batch, events per batch, segments per epoch (app groups written
separately), key skew (Zipf exponent over apps) and recency (how strongly
fetch windows favour the newest data).
"""

from __future__ import annotations

import bisect
import itertools
import random
import string
from dataclasses import dataclass

SLOT_NS = 60 * 10**9  # 1 min resolution (reference params.json grid)
EPOCH_NS = 3600 * 10**9  # 1 h epochs
BASE_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
STATS_MAX = 64  # distinct values the store records per (segment, epoch, level)
METRICS = ("cpu", "mem", "req", "lat")
WINDOWS_NS = (EPOCH_NS, 6 * EPOCH_NS, 24 * EPOCH_NS, 7 * 24 * EPOCH_NS)
PATTERN_KINDS = ("exact", "wildcard_host", "value_set", "regex", "prefix")


@dataclass(frozen=True)
class Traffic:
    """Key space and skew shared by every workload. The repo records no
    traffic to size these from: 96 apps is the smallest round count over
    ``STATS_MAX`` that splits into prunable groups of 48, and the metric
    and host counts and the Zipf exponent are unverified assumptions
    (perfbench/README.md, "Sizes and where they come from")."""

    apps: int = 96
    hosts: int = 4
    zipf_s: float = 1.1

    def app(self, i: int) -> str:
        return f"app{i:03d}"

    def host(self, i: int) -> str:
        return f"h{i}"


class _Zipf:
    """Draws ranks 0..n-1 with weight 1/(rank+1)^s."""

    def __init__(self, n: int, s: float):
        self.cum = list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def events(
    rng: random.Random,
    traffic: Traffic,
    apps: list[int],
    n: int,
    t_lo: int,
    t_hi: int,
    every_app: bool = False,
) -> list[tuple]:
    """``n`` events in [t_lo, t_hi), apps Zipf-skewed by their position in
    ``apps``, sorted by time. ``every_app`` first gives each app one event,
    so a batch is guaranteed to carry all of them."""
    z = _Zipf(len(apps), traffic.zipf_s)
    picks = list(range(len(apps))) if every_app else []
    picks += [z.draw(rng) for _ in range(n - len(picks))]
    out = [
        (
            rng.randrange(t_lo, t_hi),
            traffic.app(apps[k]),
            rng.choice(METRICS),
            traffic.host(rng.randrange(traffic.hosts)),
            rng.randrange(0, 10_000),
        )
        for k in picks
    ]
    out.sort()
    return out


def ingest_batches(
    seed: int,
    traffic: Traffic,
    n_batches: int,
    events_per_batch: int,
    apps_per_batch: int,
    epochs_per_batch: int,
) -> list[list[tuple]]:
    """Time-ordered batches, each one consecutive epoch-long slice of
    traffic. With ``epochs_per_batch=2`` the slice starts half-way into an
    epoch, so every batch touches two epochs; with 1 it is epoch-aligned."""
    if epochs_per_batch not in (1, 2):
        raise ValueError("epochs_per_batch must be 1 or 2")
    rng = random.Random(f"ingest/{seed}")
    apps = list(range(apps_per_batch))
    t0 = BASE_NS + (EPOCH_NS // 2 if epochs_per_batch == 2 else 0)
    return [
        events(rng, traffic, apps, events_per_batch, t0 + i * EPOCH_NS, t0 + (i + 1) * EPOCH_NS, every_app=True)
        for i in range(n_batches)
    ]


def app_groups(traffic: Traffic, segments_per_epoch: int) -> list[list[int]]:
    """Split the apps into contiguous groups, one segment per epoch each."""
    size = -(-traffic.apps // segments_per_epoch)
    groups = [list(range(i, min(i + size, traffic.apps))) for i in range(0, traffic.apps, size)]
    if any(len(g) > STATS_MAX for g in groups):
        raise ValueError("a history group wider than STATS_MAX apps would disable pruning")
    return groups


def history(
    seed: int, traffic: Traffic, days: int, segments_per_epoch: int, events_per_group_hour: int
) -> list[list[tuple]]:
    """Several days of history, one batch per app group (each batch covers
    every epoch), so each epoch ends up with ``segments_per_epoch``
    segments whose f1 stats list at most ``STATS_MAX`` apps."""
    rng = random.Random(f"history/{seed}")
    hours = days * 24
    return [
        events(rng, traffic, g, events_per_group_hour * hours, BASE_NS, BASE_NS + hours * EPOCH_NS)
        for g in app_groups(traffic, segments_per_epoch)
    ]


def _pattern(rng: random.Random, traffic: Traffic, kind: str, app: str) -> list:
    metric = rng.choice(METRICS)
    if kind == "exact":
        return [app, metric, traffic.host(rng.randrange(traffic.hosts))]
    if kind == "wildcard_host":
        return [app, metric, "*"]
    if kind == "value_set":
        hosts = sorted(rng.sample([traffic.host(h) for h in range(traffic.hosts)], 2))
        return [app, metric, hosts]
    if kind == "regex":
        a, b = sorted(rng.sample(METRICS, 2))
        return [app, {"re": f"{a}|{b}"}, "*"]
    if kind == "prefix":
        return [app] if rng.random() < 0.5 else [app, metric]
    raise ValueError(kind)


def fetch_mix(
    seed: int, traffic: Traffic, n: int, now_ns: int, recency: float
) -> list[tuple[int, int, list]]:
    """``n`` single-pattern fetches ``(from_ns, to_ns, pattern)``: kinds
    cycle through ``PATTERN_KINDS`` and windows through ``WINDOWS_NS`` (the
    cycle lengths are coprime, so every few fetches mix both), apps are
    Zipf-skewed, and each window ends ``k`` hours before ``now_ns`` with
    ``k`` geometric (``recency`` is the chance of stopping at each hour, so
    higher favours newer data)."""
    rng = random.Random(f"fetch/{seed}")
    z = _Zipf(traffic.apps, traffic.zipf_s)
    out = []
    for i in range(n):
        kind = PATTERN_KINDS[i % len(PATTERN_KINDS)]
        window = WINDOWS_NS[i % len(WINDOWS_NS)]
        lag = 0
        while rng.random() > recency and lag < 24:
            lag += 1
        to_ns = now_ns - lag * EPOCH_NS - rng.randrange(60) * SLOT_NS
        out.append((to_ns - window, to_ns, _pattern(rng, traffic, kind, traffic.app(z.draw(rng)))))
    return out


def panels(
    seed: int, traffic: Traffic, n: int, now_ns: int, size: int = 8
) -> list[tuple[int, int, dict[str, list]]]:
    """``n`` dashboard panels over the last 6 h: ``size`` patterns each,
    drawn from the same kinds and app skew as ``fetch_mix``."""
    rng = random.Random(f"panel/{seed}")
    z = _Zipf(traffic.apps, traffic.zipf_s)
    out = []
    for _ in range(n):
        pats = {
            f"q{j}": _pattern(rng, traffic, PATTERN_KINDS[j % len(PATTERN_KINDS)], traffic.app(z.draw(rng)))
            for j in range(size)
        }
        to_ns = now_ns - rng.randrange(60) * SLOT_NS
        out.append((to_ns - 6 * EPOCH_NS, to_ns, pats))
    return out


# -- curation corpus ----------------------------------------------------------

_STOP = ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it")


@dataclass(frozen=True)
class Corpus:
    docs: list[tuple[int, str]]
    exact_dups: dict[int, int]  # planted copy id -> source id
    near_dups: dict[int, int]  # planted near copy id -> source id


def corpus(seed: int, n_docs: int, exact_frac: float, near_frac: float, edits: int = 2) -> Corpus:
    """``n_docs`` random documents plus planted exact copies and near
    copies (``edits`` words replaced). Copies take ids above every source,
    and exact and near copies come from disjoint sources, so a correct
    chain keeps each source and drops each copy."""
    rng = random.Random(f"corpus/{seed}")
    vocab = sorted(
        {"".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randrange(3, 9))) for _ in range(3000)}
    )
    words = list(vocab) + list(_STOP) * 40

    def doc() -> str:
        return " ".join(rng.choice(words) for _ in range(rng.randrange(60, 140)))

    docs = [(i, doc()) for i in range(n_docs)]
    n_exact, n_near = int(n_docs * exact_frac), int(n_docs * near_frac)
    srcs = rng.sample(range(n_docs), n_exact + n_near)
    exact, near = {}, {}
    nid = n_docs
    for s in srcs[:n_exact]:
        docs.append((nid, docs[s][1]))
        exact[nid] = s
        nid += 1
    for s in srcs[n_exact:]:
        w = docs[s][1].split()
        for pos in rng.sample(range(len(w)), edits):
            w[pos] = rng.choice(vocab)
        docs.append((nid, " ".join(w)))
        near[nid] = s
        nid += 1
    return Corpus(docs, exact, near)
