"""bench.py's storm gate: the JVM probe's rate scales with the session's
cores, so the storm threshold (calibrated at local[32]) must scale too —
an ordinary 4-core probe is not a storm."""

from __future__ import annotations

from types import SimpleNamespace

import bench


def _session(cpus):
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cpus))


def _gate(monkeypatch, first_rate, cpus=4, later_rate=1.42):
    sleeps = []
    monkeypatch.setattr(bench.time, "sleep", sleeps.append)
    monkeypatch.setattr(bench, "_jvm_rate", lambda spark, n: later_rate)
    return bench.wait_out_storm(_session(cpus), first_rate), sleeps


def test_ordinary_four_core_rate_does_not_wait(monkeypatch):
    gate, sleeps = _gate(monkeypatch, 1.42)
    assert gate == {} and sleeps == []


def test_four_core_storm_waits_until_it_clears(monkeypatch):
    gate, sleeps = _gate(monkeypatch, 0.1)
    assert sleeps == [45]
    assert gate == {"jvm_probe_wait_rates": [0.1, 1.42]}


def test_same_rate_is_a_storm_at_32_cores(monkeypatch):
    gate, sleeps = _gate(monkeypatch, 1.42, cpus=32, later_rate=0.1)
    assert len(sleeps) == 5
    assert gate["jvm_probe_wait_rates"] == [1.42] + [0.1] * 5
