"""Choosing the samples a median is taken over, and steal shares of
intervals between clock ticks."""

from perfbench.hostnoise import Sample, StealClock, undisturbed


def test_disturbed_samples_are_left_out_while_half_remain():
    samples = [Sample(100, 0.01), Sample(300, 0.2), Sample(110, 0.05), Sample(105, 0.0)]
    assert undisturbed(samples) == [Sample(100, 0.01), Sample(110, 0.05), Sample(105, 0.0)]


def test_the_least_disturbed_half_when_most_samples_are_disturbed():
    samples = [Sample(300, 0.2), Sample(250, 0.1), Sample(100, 0.01), Sample(400, 0.3), Sample(260, 0.12)]
    assert undisturbed(samples) == [Sample(100, 0.01), Sample(250, 0.1), Sample(260, 0.12)]
    assert undisturbed([Sample(500, 0.5)]) == [Sample(500, 0.5)]
    assert undisturbed([]) == []


def test_share_of_an_interval_uses_the_ticks_just_outside_it():
    clock = StealClock()
    clock.cpus = 4
    # wall time, steal seconds summed over the 4 CPUs
    clock.ticks = [(10.0, 0.0), (11.0, 0.0), (12.0, 2.0), (13.0, 2.0)]
    assert clock.share(11.0, 12.0) == 2.0 / (4 * 1.0)
    assert clock.share(11.5, 11.9) == 2.0 / (4 * 1.0)
    assert clock.share(10.0, 13.0) == 2.0 / (4 * 3.0)
    assert clock.share(12.0, 12.0) == 0.0
    assert clock.stolen_s() == 2.0


def test_clock_samples_the_host_and_stops():
    clock = StealClock(period_s=0.01).start()
    clock.tick()
    clock.stop()
    assert len(clock.ticks) >= 2 and clock.cpus >= 1
    assert clock.stolen_s() >= 0
