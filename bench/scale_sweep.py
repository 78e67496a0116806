#!/usr/bin/env python
"""Full-registry execution sweep at a scaled SF — the per-round scale gate
and the streaming-state instrument.

Usage: python bench/scale_sweep.py [sf_dir] [--out results.json]
                                   [--only name1,name2]
                                   [--outlier-sec 120] [--runs N]
                                   [--shuffle-partitions N]

Runs EVERY registry entry (not just the bench subsets) against
``sf_dir`` (default /tmp/s4_scaleprobe/sf1, the x10 decade built by
``bench/make_scaled_sf.py``) with the same engine-side noop-sink
reduction bench.py uses, and prints one JSON line:

    {"sf_dir": ..., "n": 255, "attempted": 255, "failed": [...],
     "total_sec": ..., "outliers": [...], "timings": {"q...": sec, ...},
     "streams": {"q...": {"state_ops": {...}, "batches": [...]}, ...}}

(``n`` counts successful entries — the ones covered by ``timings`` /
``total_sec`` / ``outliers``; ``attempted`` = n + len(failed).)

This is the instrument that caught round 7's two quadratic-constant
outliers (q122 at 814 s and q141 at 968 s at a mere x10 — invisible to
the bench sets, which don't cover every entry): a plan whose CONSTANT
is quadratic in the corpus looks fine at sf0.1 and detonates one decade
up, which is precisely the 100 TB failure mode the mandate cares about.
Institutionalized per VERDICT r7 item 3: rebuild the probe dirs if /tmp
was wiped (``make_scaled_sf.py /root/testdata/sf0.1 /tmp/s4_scaleprobe/sf1 10``),
re-run after substantive operator changes, and update the latest figures
in SCALE.md ("Latest gates" and the family sections).

``outliers`` lists entries over ``--outlier-sec`` (default 120 s at x10
— r7's two true positives ran 814/968 s; the slowest honest entries,
streaming rigs with fixed startup cost, sit under 60 s).

``streams`` holds, for every entry that starts a streaming query, every
micro-batch of the timed run (:func:`_batch_record`) and the maximum
``stateOperators.numRowsTotal`` per state operator across them. A
stateful operator whose state grows with stream LIFETIME instead of
open-window / open-session count is the at-scale failure mode
(unbounded state), and wall-clock alone can look linear while state
quietly accumulates. ``--shuffle-partitions`` sets the session's
``spark.sql.shuffle.partitions``: stateful operators fix their partition
count at the first batch and AQE does not resize them, so at x1000 on
one JVM the session default (= cpus) hands each state task more than
the heap holds (q241 ran out of heap); a cluster bounds that share by
executor width, and this is the local analog.

Box-state protocol: identical code swept 646 s and 822 s in consecutive
rounds — environment spread (disk cache, background load). ``--runs 2``
takes a per-entry min-of-N (the round-close gate setting), and every
output carries a ``box`` fingerprint (1-min load average, free/cached
memory, concurrent python/java process count); SCALE.md rows quote its
load figure alongside the totals.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

from s4_spark.queries import REGISTRY
from s4_spark.session import get_spark

#: Longest wait, after an entry returns, for the termination events of
#: the queries it started (the listener bus delivers them asynchronously).
SETTLE_TIMEOUT_S = 60.0


def _batch_record(p) -> dict:
    """One micro-batch of a progress report: input rows, trigger
    execution ms and ``[operator, numRowsTotal]`` per state operator."""
    return {
        "name": p.name,
        "batchId": p.batchId,
        "inputRows": p.numInputRows,
        "ms": (p.durationMs or {}).get("triggerExecution"),
        "stateOps": [
            [op.operatorName or "state", op.numRowsTotal] for op in p.stateOperators
        ],
    }


def _state_ops(batches: list[dict]) -> dict[str, int]:
    """Max numRowsTotal per state operator name across ``batches``."""
    ops: dict[str, int] = defaultdict(int)
    for b in batches:
        for name, rows in b["stateOps"]:
            ops[name] = max(ops[name], rows)
    return dict(sorted(ops.items()))


class _StreamCapture(StreamingQueryListener):
    """Counts started and terminated queries and records every
    micro-batch they report. ``onQueryStarted`` runs before ``start()``
    returns, and the bus delivers a query's progress before its
    termination event, so once every started query has terminated every
    batch is recorded."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self.started = 0
        self.terminated = 0
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.batches.append(_batch_record(event.progress))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def take(self, timeout: float) -> tuple[bool, list[dict]]:
        """Wait, at most ``timeout`` s, until every started query has
        terminated; return whether they all did and the batches recorded
        since the last call."""
        with self._cv:
            settled = self._cv.wait_for(
                lambda: self.terminated >= self.started, timeout
            )
            batches, self.batches = self.batches, []
            return settled, batches


def main(argv: list[str] | None = None, spark=None) -> None:
    """Run the sweep; ``spark`` is the session to run it in (the command
    line builds one, sized by ``get_spark``'s defaults)."""
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/tmp/s4_scaleprobe/sf1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None, help="comma-separated entry names")
    ap.add_argument("--outlier-sec", type=float, default=120.0)
    ap.add_argument(
        "--runs",
        type=int,
        default=1,
        help="per-entry min-of-N (use 2 for the round-close gate; see "
        "the box-state protocol in the module docstring)",
    )
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="spark.sql.shuffle.partitions for the session (raise it at "
        "x1000 for the stateful rigs; see the module docstring)",
    )
    args = ap.parse_args(argv)

    if spark is None:
        extra = (
            {"spark.sql.shuffle.partitions": str(args.shuffle_partitions)}
            if args.shuffle_partitions
            else None
        )
        spark = get_spark(app_name="s4_scale_sweep", extra_conf=extra)
    # JVM/codegen warm-up on the SMALLEST table the probe dir has —
    # subset probe dirs (e.g. a documents-only ×1000 build) are a
    # legitimate --only target and don't carry the full SF layout, and
    # alphabetical-first on a full dir is customer.parquet, whose full
    # count at ×100/×1000 burns minutes before any timing starts
    # (ADVICE r9); warm-up only needs a JVM+codegen spin-up, so size is
    # the right selector.
    def _du(path: str) -> int:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )

    warm = [
        p for p in os.listdir(args.sf_dir) if p.endswith(".parquet")
    ]
    if not warm:
        sys.exit(f"no *.parquet tables under {args.sf_dir}")
    smallest = min(warm, key=lambda p: _du(os.path.join(args.sf_dir, p)))
    spark.read.parquet(os.path.join(args.sf_dir, smallest)).count()

    names = list(REGISTRY)
    if args.only:
        keep = set(args.only.split(","))
        unknown = keep - set(names)
        if unknown:
            # a typo'd/renamed --only entry must not yield a vacuous
            # green gate line — this instrument exists to catch
            # regressions, so unknown names are an error
            sys.exit(f"--only names not in the registry: {sorted(unknown)}")
        names = [n for n in names if n in keep]

    # box fingerprint shared with the idle-series recorder (bench.py at
    # the repo root wins the `bench` name over this namespace dir)
    from bench import box_fingerprint

    box = box_fingerprint()

    timings: dict[str, float] = {}
    streams: dict[str, dict] = {}
    failed: list[str] = []
    flaky: list[str] = []
    cap = _StreamCapture()
    spark.streams.addListener(cap)
    try:
        for name in names:
            # a failure must not discard an earlier successful timing —
            # the entry is FAILED only if every run failed; an entry with
            # both a success and a failure keeps its min-of-N sample and
            # is flagged in `flaky` for follow-up.
            best = None
            run_failures = 0
            for _ in range(max(1, args.runs)):
                spark.catalog.clearCache()
                started = cap.started
                t0 = time.time()
                try:
                    REGISTRY[name].fn(spark, args.sf_dir).write.mode(
                        "overwrite"
                    ).format("noop").save()
                    sec = time.time() - t0
                except Exception:
                    sec = None
                    run_failures += 1
                    print(
                        f"RUN-FAIL {name} after {round(time.time() - t0, 2)}s",
                        file=sys.stderr,
                    )
                    traceback.print_exc()
                settled, batches = cap.take(SETTLE_TIMEOUT_S)
                if not settled:
                    print(
                        f"WARN {name}: a started query did not terminate "
                        f"within {SETTLE_TIMEOUT_S}s",
                        file=sys.stderr,
                    )
                if sec is not None and (best is None or sec < best):
                    best = sec
                    if cap.started > started:
                        streams[name] = {
                            "state_ops": _state_ops(batches),
                            "batches": batches,
                        }
            if best is not None:
                timings[name] = round(best, 2)
                if run_failures:
                    flaky.append(name)
                print(f"{name}: {timings[name]}s", file=sys.stderr)
            else:
                failed.append(name)
                print(f"FAIL {name} (all {max(1, args.runs)} runs)", file=sys.stderr)
    finally:
        spark.streams.removeListener(cap)

    out = {
        "sf_dir": args.sf_dir,
        "runs": max(1, args.runs),
        "box": box,
        # n counts SUCCESSFUL timings; failures are enumerated (and
        # excluded from total_sec/outliers), so n + len(failed) =
        # attempted (r8 advice: an 'n' of attempts over success-only
        # totals read as full-coverage timings)
        "n": len(timings),
        "attempted": len(names),
        "failed": failed,
        # entries that kept a successful min-of-N timing but had at
        # least one failed run (ADVICE r11: distinct from `failed`)
        "flaky": flaky,
        "total_sec": round(sum(timings.values()), 1),
        "outliers": sorted(
            (n for n, s in timings.items() if s > args.outlier_sec),
            key=lambda n: -timings[n],
        ),
        "timings": timings,
        "streams": streams,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
