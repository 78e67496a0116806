#!/usr/bin/env python3
"""Compare the untraced results of two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds result records as ``perfbench/run.py`` appends them to
``.perfbench/results/<workload>.jsonl``. For every workload and
end-to-end metric it prints each side's median and quartiles, the ratio
of the medians, and the run count. Results from boxes with a different
cpu count are not comparable; the script refuses them.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [r for r in map(json.loads, f)
                if r["trace"] == 0 and r["scale"] == "full" and r["e2e"]]


def quartiles(values: list[float]) -> list[float]:
    return statistics.quantiles(values, n=4) if len(values) > 1 else values * 3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cpus = {r["box"]["cpus"] for r in base + new}
    if len(cpus) != 1:
        print(f"refusing to compare results from boxes with different cpus: {sorted(cpus)}",
              file=sys.stderr)
        return 2
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        a = [r["e2e"] for r in base if r["workload"] == w]
        b = [r["e2e"] for r in new if r["workload"] == w]
        print(f"{w}: base {len(a)} runs, new {len(b)} runs, cpus {min(cpus)}")
        for metric in a[0]:
            qa, qb = quartiles([x[metric] for x in a]), quartiles([x[metric] for x in b])
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"  {metric:18s} base {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]  "
                  f"new {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  new/base {ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
