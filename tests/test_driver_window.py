"""Guards on the driver's 50-query verification window.

The round driver oracle-checks the FIRST 50 entries of ``queries()``:
row count + schema + a pandas value-hash that sorts collected cells, so a
window entry must (a) exist, (b) carry an oracle, (c) emit only hashable
scalar columns — a raw array/map/binary cell kills the driver harness
(round-1/2 q037 failure mode). These tests pin all three so a registry
edit can't silently eject a family from driver verification or push an
unhashable column into the window.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from s4_spark.queries import DRIVER_WINDOW, NEXT_WINDOW_QUEUE, REGISTRY
from tests.conftest import SMOKE_SF_DIR

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXPECTED_SECTIONS = {
    "B1-scans",
    "B2-projection-filter",
    "B3-joins",
    "B4-aggregations",
    "B5-windows",
    "B6-sorts",
    "B7-setops",
    "B8-functions",
    "B9-streaming",
    "B10-udfs",
    "B11-llm",
    "B12-training",
}

UNHASHABLE_TYPES = ("array", "map", "binary", "struct")


def test_window_is_first_50_and_oracle_backed():
    names = list(REGISTRY)
    assert len(DRIVER_WINDOW) == 50
    assert names[:50] == list(DRIVER_WINDOW)
    for n in DRIVER_WINDOW:
        assert REGISTRY[n].oracle is not None, f"{n} has no oracle"


def test_window_covers_every_family():
    got = {REGISTRY[n].section for n in DRIVER_WINDOW}
    assert got == EXPECTED_SECTIONS, EXPECTED_SECTIONS - got


def test_window_maximizes_never_verified_entries():
    """Rotation guard: the window must spend its 50 slots on entries that have
    never earned a driver-green CORRECTNESS row. An already-verified entry may
    occupy a slot only as a family canary (when its §2-B family has no
    never-verified oracle-backed entries left) or as filler once fewer
    never-verified entries exist than slots. Fails if a registry edit quietly
    re-inserts already-green entries at the expense of never-verified ones.

    Boundary-aware (round-5 verdict item 2): when the driver drops a new
    CORRECTNESS file mid-round the window may become fully verified while
    never-verified entries remain outside it. That state is legitimate at a
    round boundary ONLY if every such entry is pinned in NEXT_WINDOW_QUEUE
    (validated below as exactly the never-verified remainder) — the handoff
    tree stays green while the anti-backsliding property holds: a window
    wasting slots while UNPINNED never-verified entries exist still fails."""
    seen = ORACLED_SEEN
    never = [n for n, q in REGISTRY.items() if n not in seen and q.oracle is not None]
    unwindowed_never = [n for n in never if n not in DRIVER_WINDOW]
    assert set(unwindowed_never) <= set(NEXT_WINDOW_QUEUE), (
        f"never-verified oracle-backed entries outside the window and not "
        f"pinned in NEXT_WINDOW_QUEUE: "
        f"{sorted(set(unwindowed_never) - set(NEXT_WINDOW_QUEUE))}"
    )
    windowed_never = [n for n in never if n in DRIVER_WINDOW]
    canary_sections = EXPECTED_SECTIONS - {REGISTRY[n].section for n in never}
    budget = max(len(canary_sections), len(DRIVER_WINDOW) - len(windowed_never))
    already = sorted(n for n in DRIVER_WINDOW if n in seen)
    assert len(already) <= budget, (
        f"window wastes slots on already-verified entries {already} "
        f"(budget {budget}) while {len(windowed_never)} never-verified "
        f"entries occupy window slots and {len(unwindowed_never)} wait in "
        f"the pinned queue"
    )


def test_next_window_queue_is_exactly_the_unwindowed_never_verified():
    """NEXT_WINDOW_QUEUE must be exact: every pinned entry exists, carries an
    oracle, is truly never-verified, and is not already windowed — so the
    boundary-aware escape hatch above cannot be satisfied by pinning stale or
    bogus names. Empty queue (everything never-verified fits in the current
    window) is the steady state."""
    seen = ORACLED_SEEN
    for n in NEXT_WINDOW_QUEUE:
        assert n in REGISTRY, f"{n} pinned in NEXT_WINDOW_QUEUE but not registered"
        assert REGISTRY[n].oracle is not None, f"{n} pinned but has no oracle"
        assert n not in seen, f"{n} pinned but already driver-verified"
        assert n not in DRIVER_WINDOW, f"{n} pinned but already windowed"


@pytest.mark.parametrize("name", sorted(DRIVER_WINDOW))
def test_window_outputs_are_hashable_scalars(spark, name):
    df = REGISTRY[name].fn(spark, SMOKE_SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName().startswith(UNHASHABLE_TYPES)
    ]
    assert not bad, f"{name} emits unhashable columns {bad}"


def _correctness_seen() -> set[str]:
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            seen |= set(json.load(f))
    return seen


ORACLED_SEEN = _correctness_seen()


# Entries pinned for the NEXT rotation must already satisfy the driver's
# hashable-scalar constraint — catching an array/map/binary column now
# beats a red CORRECTNESS row after they rotate in.
@pytest.mark.parametrize("name", sorted(NEXT_WINDOW_QUEUE) or ["<empty>"])
def test_next_queue_outputs_are_hashable_scalars(spark, name):
    if name == "<empty>":
        pytest.skip("NEXT_WINDOW_QUEUE is empty — nothing queued")
    df = REGISTRY[name].fn(spark, SMOKE_SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName().startswith(UNHASHABLE_TYPES)
    ]
    assert not bad, f"{name} emits unhashable columns {bad}"
