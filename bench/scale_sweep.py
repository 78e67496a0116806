#!/usr/bin/env python
"""Full-registry execution sweep at a scaled SF — the per-round scale gate
and the streaming-state instrument.

Usage: python bench/scale_sweep.py [sf_dir] [--out results.json]
                                   [--only name1,name2]
                                   [--outlier-sec 120] [--runs N]
                                   [--shuffle-partitions N]

Runs EVERY registry entry (not just the bench subsets) against
``sf_dir`` (default /tmp/s4_scaleprobe/sf1, the x10 decade built by
``bench/make_scaled_sf.py``) through :func:`time_entries` — the one
per-entry timing loop, which bench.py times its keys through too — and
prints one JSON line:

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
rounds (disk cache, background load). ``--runs 2`` takes a per-entry
min-of-N (the round-close gate setting), and every output carries a
:func:`box_fingerprint`; SCALE.md rows quote its load figure.
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


def box_fingerprint() -> dict:
    """Box condition at call time: 1-min load average, free and cached
    memory (MB) and the count of other python/java processes. bench.py
    stamps it into the idle recordings and this sweep into its line, so
    cross-round drift is attributable from the recorded JSON alone."""
    fp: dict = {}
    try:
        fp["load1"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    try:
        mem = {}
        with open("/proc/meminfo") as f:
            for ln in f:
                k, v = ln.split(":", 1)
                if k in ("MemFree", "Cached"):
                    mem[k] = int(v.strip().split()[0]) // 1024
        fp["mem_free_mb"] = mem.get("MemFree")
        fp["page_cache_mb"] = mem.get("Cached")
    except OSError:
        pass
    try:
        me = os.getpid()
        n = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip().startswith(("python", "java")):
                        n += 1
            except OSError:
                pass
        fp["other_python_java_procs"] = n
    except OSError:
        pass
    return fp


def _du(path: str) -> int:
    """Bytes under ``path``: a file, or a table directory's files."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen warm-up on the SMALLEST table under ``sf_dir``, so the
    first timed entry is not charged for it. Size is the selector because
    subset probe dirs (a documents-only x1000 build) carry no ``region``,
    and a full count of the alphabetically first table (customer) at
    x100/x1000 burns minutes. A bare ``count()`` is not enough: with
    parquet aggregatePushdown it is answered from row-group metadata, so
    the vectorized reader, WholeStageCodegen and the noop v2 write path
    stay cold (q001 once timed 2.94 s min-of-2 against 0.63 s steady
    state at 8 cpus); the noop write runs them."""
    tables = [p for p in os.listdir(sf_dir) if p.endswith(".parquet")]
    if not tables:
        sys.exit(f"no *.parquet tables under {sf_dir}")
    smallest = min(tables, key=lambda p: _du(os.path.join(sf_dir, p)))
    warm = spark.read.parquet(os.path.join(sf_dir, smallest))
    warm.count()
    warm.write.mode("overwrite").format("noop").save()


def time_entries(
    spark, names: list[str], sf_dir: str, runs: int
) -> tuple[dict[str, float], dict[str, dict], list[str], list[str]]:
    """Time each registry entry in ``names`` against ``sf_dir``: min of
    ``runs`` runs of ``clearCache()`` then the entry's plan executed to
    the noop sink (engine-side, so the time is the plan's, not driver
    deserialization of the result). Returns ``(timings, streams, failed,
    flaky)``: unrounded seconds per entry with at least one successful
    run, the ``streams`` record of every timed entry that started a
    query, the entries whose every run failed, and the entries that kept
    a timing but had a failed run. Progress goes to stderr."""
    timings: dict[str, float] = {}
    streams: dict[str, dict] = {}
    failed: list[str] = []
    flaky: list[str] = []
    cap = _StreamCapture()
    spark.streams.addListener(cap)
    try:
        for name in names:
            best = None
            run_failures = 0
            for _ in range(runs):
                spark.catalog.clearCache()
                started = cap.started
                t0 = time.time()
                try:
                    REGISTRY[name].fn(spark, sf_dir).write.mode(
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
            if best is None:
                failed.append(name)
                print(f"FAIL {name} (all {runs} runs)", file=sys.stderr)
                continue
            timings[name] = best
            if run_failures:
                flaky.append(name)
            print(f"{name}: {round(best, 2)}s", file=sys.stderr)
    finally:
        spark.streams.removeListener(cap)
    return timings, streams, failed, flaky


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
    runs = max(1, args.runs)

    if spark is None:
        extra = (
            {"spark.sql.shuffle.partitions": str(args.shuffle_partitions)}
            if args.shuffle_partitions
            else None
        )
        spark = get_spark(app_name="s4_scale_sweep", extra_conf=extra)
    warm_up(spark, args.sf_dir)

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

    box = box_fingerprint()
    secs, streams, failed, flaky = time_entries(spark, names, args.sf_dir, runs)
    timings = {n: round(s, 2) for n, s in secs.items()}

    out = {
        "sf_dir": args.sf_dir,
        "runs": runs,
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
