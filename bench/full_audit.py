#!/usr/bin/env python
"""Full-registry DuckDB correctness audit, process-parallel — the
round-close gate that hash-checks EVERY oracle-backed entry against
DuckDB at an SF above the driver's sf0.01 gate (boundary rows that
don't exist at small SFs are exactly where past rounds' scale-onset
bugs lived: q231's decimal epsilon, q123's SF-pinned oracle).

Usage: python bench/full_audit.py [sf_dir] [--workers 4]
           [--only name1,name2] [--out results.json]

Each worker is a SEPARATE PROCESS with its own Spark session (pid-
namespaced scratch keeps them from clobbering each other — the round-5
fix this repo already carries) and its own DuckDB connection, sized to
an equal share of the box: the session's default cores and driver
memory (``session.env_cpus`` / ``env_driver_memory``) split over
``--workers``. Shards are round-robin by registry order, so the three
~9-minute exact all-pairs near-dup oracles (q111/q120/q121 at sf0.1)
land on different workers and the audit's wall-clock drops from ~90
sequential minutes to roughly the slowest shard. Each entry is compared
by tier-1's own ``tests.conftest.assert_oracle_match`` (row count,
column names, then every normalized cell), so the audit and tier-1 give
one verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import sys, json
sys.path.insert(0, %(repo)r)
import duckdb
from s4_spark.catalog import TABLES
from s4_spark.session import get_spark
from s4_spark.queries import REGISTRY
from tests.conftest import assert_oracle_match

sf = %(sf)r
names = %(names)r
spark = get_spark(app_name="s4_audit_worker")
con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
    )

out = {}
for name in names:
    q = REGISTRY[name]
    if q.oracle is None:
        out[name] = "no-oracle"
        continue
    try:
        spark.catalog.clearCache()
        assert_oracle_match(q.fn(spark, sf), con, q.oracle, name)
        out[name] = "pass"
    except AssertionError as e:
        out[name] = "MISMATCH: " + str(e).splitlines()[0]
    except Exception as e:  # noqa: BLE001 - audit must enumerate, not die
        out[name] = f"ERROR: {type(e).__name__}: {e}"
    print(f"{name}: {out[name]}", file=sys.stderr, flush=True)
with open(%(outfile)r, "w") as f:
    json.dump(out, f)
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--workers", type=int, default=4)
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from s4_spark.queries import REGISTRY
    from s4_spark.session import DEFAULT_CPUS, env_driver_memory

    names = list(REGISTRY)
    if args.only:
        keep = set(args.only.split(","))
        unknown = keep - set(names)
        if unknown:
            sys.exit(f"--only names not in the registry: {sorted(unknown)}")
        names = [n for n in names if n in keep]

    shards = [names[i :: args.workers] for i in range(args.workers)]
    procs = []
    outfiles = []
    mem = env_driver_memory()
    mem_mb = int(mem[:-1]) * (1024 if mem[-1].lower() == "g" else 1)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(max(1, DEFAULT_CPUS // args.workers)),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb // args.workers}m",
    )
    for i, shard in enumerate(shards):
        outfile = os.path.join(
            tempfile.gettempdir(), f"s4_audit_shard_{os.getpid()}_{i}.json"
        )
        outfiles.append(outfile)
        code = _WORKER % {
            "repo": REPO,
            "sf": args.sf_dir,
            "names": shard,
            "outfile": outfile,
        }
        procs.append(
            subprocess.Popen([sys.executable, "-c", code], env=env, cwd="/tmp")
        )
    rcs = [p.wait() for p in procs]

    merged: dict[str, str] = {}
    missing_shards = []
    for i, f in enumerate(outfiles):
        try:
            with open(f) as fh:
                merged.update(json.load(fh))
            os.unlink(f)
        except FileNotFoundError:
            missing_shards.append(i)
    bad = {n: v for n, v in merged.items() if v not in ("pass", "no-oracle")}
    result = {
        "sf_dir": args.sf_dir,
        "n": len(merged),
        "attempted": len(names),
        "pass": sum(1 for v in merged.values() if v == "pass"),
        "failures": bad,
        "worker_rcs": rcs,
        "dead_shards": missing_shards,
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    if bad or missing_shards or len(merged) != len(names):
        sys.exit(1)


if __name__ == "__main__":
    main()
