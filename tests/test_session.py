"""Session defaults fit the box, and the two session env vars are
validated. No Spark session needed: these are the pure helpers
``get_spark`` reads its defaults from."""

from __future__ import annotations

import os

import pytest

from s4_spark import session


def test_cpus_default_to_the_box(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.env_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session.env_cpus() == 6


@pytest.mark.parametrize("bad", ["0", "-2", "four", "2.5", ""])
def test_bad_cpus_value_names_the_variable(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.env_cpus()


def test_driver_memory_defaults_to_a_share_of_the_box(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    want = min(24 * 1024, int(total_kb / 1024 * 0.6))
    assert session.env_driver_memory() == f"{want}m"


def test_driver_memory_override_is_kept(monkeypatch):
    for ok in ("8g", "9411m", "2G"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", ok)
        assert session.env_driver_memory() == ok


@pytest.mark.parametrize("bad", ["8", "8gb", "0g", "g", "1.5g", ""])
def test_bad_driver_memory_value_names_the_variable(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session.env_driver_memory()
