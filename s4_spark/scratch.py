"""Per-process scratch namespace for query sinks, landing dirs and
checkpoints — the one module that knows where scratch lives and when it
is deleted.

Every path under the root is namespaced by the OWNING PROCESS (pid): two
concurrent sessions on the same scale factor previously shared fixed
global-tmp paths keyed only by the sf-dir basename, so one session's
rmtree/overwrite could destroy the other's output mid-query (ADVICE r4).
Tests that resolve a query's sink (bloom footer check, incremental-shard
file-identity check) run in the same process as the query and therefore
resolve the same namespaced path.

A pid namespace (not spark.app.id) is deliberate: scratch helpers are
called before any SparkSession exists (module import time for a few
constants), and within one process all sessions share the scratch tree
exactly as they share the driver JVM. The pid in the dir name is also
its owner record: the first :func:`scratch_root` call of a process
sweeps the siblings whose owner is gone (:func:`sweep_dead`).
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import time

#: A sibling dir must also sit untouched this long before it is swept.
MAX_IDLE_S = 3600.0


def _owner_alive(pid: int) -> bool:
    """True iff ``pid`` still runs on this host. EPERM from the probe
    means the PID EXISTS but belongs to another user — on a multi-user
    host sharing tempfile.gettempdir() that is a LIVE session, so it
    must read as alive; only ESRCH means the process is gone."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # process exists under another uid
    except OSError:
        return False


def sweep_dead(base: str) -> list[str]:
    """Delete the ``pid-<n>`` dirs under ``base`` that are dead by BOTH
    signals: process ``n`` no longer runs, AND the dir has been untouched
    for ``MAX_IDLE_S``. Age alone is not death — a dir's mtime only moves
    when its direct children change, so a long-idle live session would
    look dead; PID reuse is the residual race (a process that adopts a
    dead owner's PID keeps the dir until it exits too — we may keep
    garbage longer, never delete live state). Other names under ``base``
    are left alone. Returns the swept paths."""
    swept: list[str] = []
    try:
        names = os.listdir(base)
    except OSError:
        return swept
    cutoff = time.time() - MAX_IDLE_S
    for d in names:
        pid = d[len("pid-"):]
        if not d.startswith("pid-") or not pid.isdigit():
            continue
        full = os.path.join(base, d)
        try:
            stale = os.path.getmtime(full) < cutoff
        except OSError:
            continue
        if stale and not _owner_alive(int(pid)):
            shutil.rmtree(full, ignore_errors=True)
            swept.append(full)
    return swept


_sweep_once = functools.cache(sweep_dead)


def scratch_root() -> str:
    """This process's scratch dir; the first call also sweeps dead
    processes' dirs beside it."""
    base = os.path.join(tempfile.gettempdir(), "s4_spark_scratch")
    _sweep_once(base)
    root = os.path.join(base, f"pid-{os.getpid()}")
    os.makedirs(root, exist_ok=True)
    return root


def scratch(tag: str) -> str:
    """A fresh path ``tag`` under :func:`scratch_root`: whatever a
    previous call left there is removed, and the path itself is not
    created. Paths that must survive a second call (caches, tables a
    test reads back) join :func:`scratch_root` directly instead."""
    path = os.path.join(scratch_root(), tag)
    shutil.rmtree(path, ignore_errors=True)
    return path
