#!/usr/bin/env python3
"""s4-spark benchmark: one workload per invocation, run from the root of
a checkout of the repository.

    python3 perfbench/run.py --workload socket_ingest --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md for why each exists):
socket_ingest, json_backfill.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of BENCHMARK.json; with ``--trace 1`` (event log, streaming listener and
benchmark spans on) it carries the per-layer metrics. The lines before
it are a readable report. Inputs come from ``--seed`` only; outputs are
checked against a reference outside the timed region.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("socket_ingest", "json_backfill")
# Traced runs of this workload also run the registry suite, for the
# per-layer ledger of the queries and streaming layers.
SUITE_HOST = "json_backfill"
DRIVER_MEM_SHARE = 0.6

# Units of the report-only figures printed above the result line.
REPORT_UNITS = {
    "sustained_rps": "records/s", "capacity_rps": "records/s", "freshness_p50_s": "s",
    "freshness_p99_s": "s", "drain_rps": "records/s", "suite_s": "s", "fail_frac": "ratio",
}


def contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def results_path(workload: str) -> str:
    return os.path.join(STATE, "results", f"{workload}.jsonl")


def untraced_work_s(args, box: dict) -> float:
    """Median ``work_s`` of the stored untraced runs of this workload on
    a box with the same cpus; runs one untraced reference first if there
    is none."""
    def stored():
        if not os.path.exists(results_path(args.workload)):
            return []
        with open(results_path(args.workload)) as f:
            recs = [json.loads(line) for line in f]
        return [r["work_s"] for r in recs
                if r["trace"] == 0 and r["scale"] == args.scale
                and r["seconds"] == args.seconds and r["box"]["cpus"] == box["cpus"]]

    if not stored():
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
             "--scale", args.scale],
            cwd=os.getcwd(), stdout=subprocess.DEVNULL, check=True, timeout=600,
        )
    vals = sorted(stored())
    return vals[len(vals) // 2]


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait until the JVM
    and every Python worker under it have exited."""
    from pyspark import SparkContext

    from harness import _children_map

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 20
    while True:
        kids, todo, left = _children_map(), [os.getpid()], []
        while todo:
            for c in kids.get(todo.pop(), []):
                left.append(c)
                todo.append(c)
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: small inputs, for the self-test only")
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "s4_spark", "session.py")):
        print("perfbench: the s4_spark package is not beside perfbench/; run from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    spec = contract()

    from harness import (RssSampler, Tracer, box_stamp, parse_event_log, retained_heap_mb,
                         start_session)

    box = box_stamp()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(STATE, "runs", run_id)
    # Every scratch path of the run — Spark's, Python's, the program's —
    # lives under the run directory, so concurrent runs never share one.
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(box["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{int(box['mem_total_mb'] * DRIVER_MEM_SHARE)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path.insert(0, ROOT)

    reference_work_s = untraced_work_s(args, box) if args.trace else None
    wall_start = time.time() if args.trace else PROCESS_START

    import ingest
    import suites

    run = {
        "socket_ingest": ingest.socket_ingest,
        "json_backfill": ingest.json_backfill,
    }[args.workload]

    tracer = Tracer(run_id, enabled=bool(args.trace))
    sampler = RssSampler().start()
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    ctx = argparse.Namespace(run_dir=run_dir, seed=args.seed, seconds=args.seconds,
                             trace=bool(args.trace), scale=args.scale, box=box,
                             tracer=tracer, sampler=sampler)
    spark = None
    try:
        spark, layers = start_session(run_dir, box["cpus"], tracer, event_log)
        setup_s = time.time() - PROCESS_START
        box["spark"] = spark.version
        res = run(spark, ctx)
        if args.trace and args.workload == SUITE_HOST:
            suite = suites.registry_suite(spark, ctx)
            for k in ("attempted", "failed", "windows"):
                res[k] += suite[k]
            res["correct"] = res["correct"] and suite["correct"]
            res["layers"].update(suite["layers"])
            res["report"].update(suite["report"])
        with tracer.span("bench.retained_heap"):
            retained_mb = retained_heap_mb(spark)
        with tracer.span("bench.teardown"):
            leaked = len(spark.streams.active)
            stop_jvm(spark)
            spark = None
    finally:
        sampler.stop()
        if spark is not None:
            stop_jvm(spark)
    end = time.time()

    correct = res["correct"] and leaked == 0
    layers.update(res["layers"])
    e2e = {"setup_s": setup_s, "retained_heap_mb": retained_mb, **res["e2e"]}
    layers["spark.peak_rss_mb"] = sampler.peak_bytes / 2**20
    layers.update({f"e2e.{k}": v for k, v in e2e.items()})
    if args.trace:
        with tracer.span("bench.event_log"):
            layers.update(parse_event_log(event_log, res["windows"]))
        coverage = tracer.top_level_seconds() / (time.time() - wall_start)
        layers["bench.trace_coverage_frac"] = coverage
        layers["bench.trace_overhead_frac"] = res["work_s"] / reference_work_s - 1
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.write(os.path.join(STATE, "traces", f"{run_id}.json"))

    os.makedirs(os.path.dirname(results_path(args.workload)), exist_ok=True)
    with open(results_path(args.workload), "a") as f:
        f.write(json.dumps({
            "run": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "box": box, "correct": correct,
            "work_s": res["work_s"], "e2e": e2e if not args.trace else None,
            "layers": layers if args.trace else None, "end": end,
        }) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={box['cpus']} mem_total_mb={box['mem_total_mb']} "
          f"spark={box['spark']}")
    for k, v in res["report"].items():
        if k == "ladder":
            for r in v:
                print(f"  rung {r['rate']:>7} records/s: freshness p50 "
                      f"{r['freshness_p50_s']:.3f} s p99 {r['freshness_p99_s']:.3f} s, "
                      f"backlog max {r['backlog_max']} growth {r['backlog_growth']} "
                      f"records, failed {r['failed']}, "
                      f"sustained {r['sustained']}")
        elif k in REPORT_UNITS:
            print(f"  {k} = {v:.6g} {REPORT_UNITS[k]}")
        else:
            print(f"  {k} = {v}")
    if args.trace and coverage < 0.9:
        print(f"  TRACE INCOMPLETE: named spans cover {coverage:.1%} of the run's wall "
              "time (need 90%)")

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in chosen}
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
