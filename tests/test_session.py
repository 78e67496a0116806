"""Session defaults fit the box, the two session env vars are
validated, and :func:`~s4_spark.session.scoped_conf` puts every key
back the way it found it."""

from __future__ import annotations

import os
from contextlib import nullcontext

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


@pytest.mark.parametrize("body_raises", [False, True])
def test_scoped_conf_restores_unset_and_set_keys(spark, body_raises):
    """A key unset before is unset afterwards — not pinned to its
    registered default — and a key set before gets its old value back,
    also when the body raises."""
    unset_key = "spark.sql.cteRecursionRowLimit"
    set_key = "spark.sql.shuffle.partitions"
    assert unset_key not in spark.conf.getAll
    old = spark.conf.get(set_key, None)
    assert old is not None
    outcome = pytest.raises(RuntimeError) if body_raises else nullcontext()
    with outcome, session.scoped_conf(spark, {unset_key: "7", set_key: "3"}):
        assert spark.conf.get(unset_key) == "7"
        assert spark.conf.get(set_key) == "3"
        if body_raises:
            raise RuntimeError("body failed")
    assert unset_key not in spark.conf.getAll
    assert spark.conf.get(set_key, None) == old
