"""The scratch namespace (s4_spark/scratch.py): per-process roots, the
liveness sweep that reclaims dead processes' roots, and the defaults
that route through it."""

from __future__ import annotations

import os
import time

from s4_spark import scratch as S

DEAD_PID = 999999999  # above any pid_max: os.kill raises ESRCH


def _aged(path, seconds=7200):
    past = time.time() - seconds
    os.utime(path, (past, past))


def test_dead_idle_pid_dirs_swept_others_kept(tmp_path):
    """A sibling dir is swept only when BOTH signals say dead: its owner
    PID (the dir name) no longer runs, AND it sat untouched for an hour.
    Age alone is NOT death — a dir's mtime freezes once its last file
    lands, so an old dir of a still-running process (a long-idle live
    session) survives; so does a fresh dir of a dead one, our own dir,
    and anything not named ``pid-<n>`` (the legacy reliable_ckpt root)."""
    dead_old = tmp_path / f"pid-{DEAD_PID}"
    dead_fresh = tmp_path / f"pid-{DEAD_PID - 1}"
    alive_old = tmp_path / f"pid-{os.getppid()}"
    mine = tmp_path / f"pid-{os.getpid()}"
    legacy = tmp_path / "reliable_ckpt"
    for d in (dead_old, dead_fresh, alive_old, mine, legacy):
        d.mkdir()
        (d / "rdd-1").write_text("x")
    for d in (dead_old, alive_old, mine, legacy):
        _aged(d)
    assert S.sweep_dead(str(tmp_path)) == [str(dead_old)]
    assert not dead_old.exists()
    for d in (dead_fresh, alive_old, mine, legacy):
        assert d.exists(), d


def test_owner_alive_eperm_means_alive(monkeypatch):
    """os.kill(pid, 0) raising PermissionError means the PID EXISTS
    under another uid — on a multi-user host sharing the temp root that
    is a LIVE session and must NOT be swept. Only ESRCH
    (ProcessLookupError) reads as dead."""

    def kill_eperm(pid, sig):
        raise PermissionError("Operation not permitted")

    monkeypatch.setattr(os, "kill", kill_eperm)
    assert S._owner_alive(12345) is True

    def kill_esrch(pid, sig):
        raise ProcessLookupError("No such process")

    monkeypatch.setattr(os, "kill", kill_esrch)
    assert S._owner_alive(12345) is False


def test_scratch_root_sweeps_on_first_call_only(tmp_path, monkeypatch):
    monkeypatch.setattr(S.tempfile, "gettempdir", lambda: str(tmp_path))
    base = tmp_path / "s4_spark_scratch"
    first = base / f"pid-{DEAD_PID}"
    first.mkdir(parents=True)
    _aged(first)

    root = S.scratch_root()
    assert root == str(base / f"pid-{os.getpid()}") and os.path.isdir(root)
    assert not first.exists()

    later = base / f"pid-{DEAD_PID - 1}"
    later.mkdir()
    _aged(later)
    assert S.scratch_root() == root
    assert later.exists()


def test_scratch_hands_back_an_emptied_path(tmp_path, monkeypatch):
    monkeypatch.setattr(S.tempfile, "gettempdir", lambda: str(tmp_path))
    path = S.scratch("sink_x")
    assert path == os.path.join(S.scratch_root(), "sink_x")
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write("old")
    assert S.scratch("sink_x") == path and not os.path.exists(path)


def test_reliable_cut_lineage_defaults_under_scratch_root(spark):
    """With no checkpoint dir configured, cut_lineage(reliable=True)
    checkpoints under this process's scratch root, so the scratch sweep
    reclaims it once the process is gone."""
    from s4_spark.operators.lineage import cut_lineage

    jsc = spark.sparkContext._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")
    prev = jsc.getCheckpointDir()
    set_dir(spark.sparkContext._jvm.scala.Option.empty())
    try:
        cut = cut_lineage(spark.range(10), reliable=True)
        assert cut.count() == 10
        ckpt = jsc.getCheckpointDir().get().removeprefix("file:")
        want = os.path.join(S.scratch_root(), "reliable_ckpt")
        assert ckpt.startswith(want + os.sep), ckpt
        assert any(d.startswith("rdd-") for d in os.listdir(ckpt))
    finally:
        if not prev.isEmpty():
            set_dir(prev)


def test_only_scratch_module_names_the_temp_dir():
    """Every scratch path comes from s4_spark/scratch.py: a module that
    builds one from the temp dir itself leaves files the dead-process
    sweep never sees (q107/q108's sockets once outlived their runs)."""
    import re

    pkg = os.path.dirname(S.__file__)
    offenders = []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == S.__file__:
                continue
            with open(path) as f:
                for n, line in enumerate(f, 1):
                    if re.search(r"\b(gettempdir|mkdtemp)\b", line):
                        offenders.append(f"{os.path.relpath(path, pkg)}:{n}")
    assert not offenders, f"temp dir named outside scratch.py: {offenders}"
