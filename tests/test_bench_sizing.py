"""bench._shuffle_width: ~1 partition per 8 MiB, floored at 8 and at
the declared core count, and never above 2048 — whatever the core
count says. Pure arithmetic; no Spark session."""

import bench

MIB = 1024 * 1024


def test_width_is_capped_after_the_core_floor(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4096")
    assert bench._shuffle_width(0) == 2048
    assert bench._shuffle_width(10**15) == 2048


def test_width_floors_and_scales(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench._shuffle_width(0) == 8
    assert bench._shuffle_width(800 * MIB) == 100
    assert bench._shuffle_width(10**15) == 2048
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._shuffle_width(8 * MIB) == 32
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert bench._shuffle_width(80 * MIB) == 10
