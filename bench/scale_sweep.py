#!/usr/bin/env python
"""Full-registry execution sweep at a scaled SF — the per-round scale gate.

Usage: python bench/scale_sweep.py [sf_dir] [--out results.json]
                                   [--only name1,name2]
                                   [--outlier-sec 120]

Runs EVERY registry entry (not just the bench subsets) against
``sf_dir`` (default /tmp/s4_scaleprobe/sf1, the x10 decade built by
``bench/make_scaled_sf.py``) with the same engine-side noop-sink
reduction bench.py uses, and prints one JSON line:

    {"sf_dir": ..., "n": 255, "attempted": 255, "failed": [...],
     "total_sec": ..., "outliers": [...], "timings": {"q...": sec, ...}}

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

Box-state protocol (VERDICT r10 item 6): identical code swept 646 s in
r9 and 822 s in r10 — pure environment spread (disk cache, background
load), which pollutes cross-round per-decade ratios. Two mitigations:
``--runs 2`` takes a per-entry min-of-N (the round-close gate setting;
single-run remains the quick iteration default), and every output now
carries a ``box`` fingerprint (1-min load average, free/cached memory,
concurrent python/java process count) so a hot-box sweep is visible in
the recorded JSON instead of masquerading as a regression. SCALE.md
rows must quote the fingerprint's load figure alongside the totals.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s4_spark.queries import REGISTRY
from s4_spark.session import get_spark


def main() -> None:
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
    args = ap.parse_args()

    spark = get_spark(app_name="s4_scale_sweep")
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
    failed: list[str] = []
    flaky: list[str] = []
    for name in names:
        # ADVICE r11: a failure must not discard an earlier successful
        # timing — the entry is FAILED only if every run failed; an
        # entry with both a success and a failure keeps its min-of-N
        # sample and is flagged in `flaky` for follow-up.
        best = None
        run_failures = 0
        for _ in range(max(1, args.runs)):
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                REGISTRY[name].fn(spark, args.sf_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
                sec = time.time() - t0
                best = sec if best is None else min(best, sec)
            except Exception:
                run_failures += 1
                print(
                    f"RUN-FAIL {name} after {round(time.time() - t0, 2)}s",
                    file=sys.stderr,
                )
                traceback.print_exc()
        if best is not None:
            timings[name] = round(best, 2)
            if run_failures:
                flaky.append(name)
            print(f"{name}: {timings[name]}s", file=sys.stderr)
        else:
            failed.append(name)
            print(f"FAIL {name} (all {max(1, args.runs)} runs)", file=sys.stderr)

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
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
