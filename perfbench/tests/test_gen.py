"""The generator is deterministic per seed and has the properties the
workloads rely on."""

from perfbench import gen

TR = gen.Traffic()


def test_same_seed_same_inputs_other_seed_other_inputs():
    for make in (
        lambda s: gen.ingest_batches(s, TR, 2, 500, TR.apps, 2),
        lambda s: gen.history(s, TR, 1, 2, 20),
        lambda s: gen.fetch_mix(s, TR, 20, gen.BASE_NS + 48 * gen.EPOCH_NS, 0.3),
        lambda s: gen.panels(s, TR, 3, gen.BASE_NS + 48 * gen.EPOCH_NS),
        lambda s: gen.corpus(s, 50, 0.1, 0.1),
    ):
        assert make(7) == make(7)
        assert make(7) != make(8)


def test_ingest_batches_overflow_stats_and_touch_two_epochs():
    batches = gen.ingest_batches(3, TR, 3, 1000, TR.apps, 2)
    prev_end = None
    for b in batches:
        assert len(b) == 1000
        assert len({e[1] for e in b}) == TR.apps > gen.STATS_MAX
        assert len({e[0] // gen.EPOCH_NS for e in b}) == 2
        assert b == sorted(b)
        if prev_end is not None:
            assert b[0][0] >= prev_end
        prev_end = b[-1][0]
    aligned = gen.ingest_batches(3, TR, 1, 1000, TR.apps, 1)[0]
    assert len({e[0] // gen.EPOCH_NS for e in aligned}) == 1


def test_history_groups_stay_prunable():
    groups = gen.history(5, TR, 1, 2, 50)
    assert len(groups) == 2
    apps = [{e[1] for e in g} for g in groups]
    assert all(len(a) <= gen.STATS_MAX for a in apps)
    assert not apps[0] & apps[1]
    assert all(gen.BASE_NS <= e[0] < gen.BASE_NS + 24 * gen.EPOCH_NS for g in groups for e in g)


def test_zipf_skew_and_recency():
    b = gen.ingest_batches(1, TR, 1, 20_000, TR.apps, 2)[0]
    counts = [sum(1 for e in b if e[1] == TR.app(i)) for i in (0, TR.apps - 1)]
    assert counts[0] > 10 * counts[1]
    now = gen.BASE_NS + 48 * gen.EPOCH_NS
    mix = gen.fetch_mix(1, TR, 200, now, 0.3)
    assert all(t <= now and f < t for f, t, _ in mix)
    assert {k for k in gen.PATTERN_KINDS} and len({t - f for f, t, _ in mix}) == len(gen.WINDOWS_NS)
    recent = sum(1 for _, t, _ in mix if now - t < gen.EPOCH_NS)
    assert recent > len(mix) // 5


def test_corpus_plants_disjoint_duplicates():
    c = gen.corpus(4, 100, 0.1, 0.1)
    text = dict(c.docs)
    assert len(c.exact_dups) == len(c.near_dups) == 10
    assert not set(c.exact_dups.values()) & set(c.near_dups.values())
    for dup, src in c.exact_dups.items():
        assert dup > src and text[dup] == text[src]
    for dup, src in c.near_dups.items():
        assert dup > src and text[dup] != text[src]
        a, b = text[dup].split(), text[src].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 2
