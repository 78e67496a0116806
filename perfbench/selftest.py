#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark, run from the repository root:

    python3 perfbench/selftest.py

Runs every workload with small inputs (``--scale tiny``: a ladder at 5%
of its rates, a 2,000-record backfill and, in its traced run, an sf0.001
registry suite), untraced and traced, and checks that

- each run exits 0 and ends with the result line the contract asks for;
- every metric BENCHMARK.json names is emitted, with its unit;
- no record or entry failed (fail_frac is 0) and the outputs are correct;
- no stream is left active, and the traced spans cover >= 90% of the run;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.

Exits 1 and lists the problems if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from run import HERE, ROOT, WORKLOADS


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "3", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def check(spec: dict, workload: str, trace: int, proc) -> list[str]:
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{where}: correct={result['correct']} failed={result['failed']} "
                        f"attempted={result['attempted']}\n" + "\n".join(lines[:-1]))
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in want}:
        problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                        f"{sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        if m["name"] in got and got[m["name"]].get("unit") != m["unit"]:
            problems.append(f"{where}: {m['name']} unit {got[m['name']].get('unit')}")
    if trace:
        if got["streaming.active_after"]["value"] != 0:
            problems.append(f"{where}: streams left active")
        if got["bench.trace_coverage_frac"]["value"] < 0.9:
            problems.append(f"{where}: spans cover only "
                            f"{got['bench.trace_coverage_frac']['value']:.1%} of the run")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            problems += check(spec, workload, trace, run(ROOT, workload, trace))
            print(f"{workload} trace={trace}: {'ok' if not problems else 'problems so far'}",
                  flush=True)

    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = run(bare, WORKLOADS[0], 0)
    finally:
        shutil.rmtree(bare)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        problems.append("bare directory: the benchmark did not fail without the program")

    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
