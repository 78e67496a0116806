#!/usr/bin/env python
"""Streaming-STATE family scale probe (VERDICT r9 item 3) — the heavy
family that had no third-decade row: runs the stateful rigs against a
scaled SF dir and records, per entry, wall-clock, every micro-batch of
every query the entry runs, AND the state store's maximum
``numRowsTotal`` per state operator derived from those batches
(captured with one StreamingQueryListener, so no rig needs to expose
its query handle).

Usage: python bench/stream_state_probe.py [sf_dir]
           [--only name1,name2] [--out results.json]

Default entry set = the map-state/funnel/changelog/TTL/chained rigs the
r9 verdict names; timings land in SCALE.md B9's streaming-state table
with the ×10 (full sweep) and ×100/×1000 (this instrument) decades.
State-size capture matters as much as time here: a stateful operator
whose numRowsTotal grows with STREAM LIFETIME instead of open-window /
open-session count is the 100 TB failure mode (unbounded state → OOM on
a real cluster), and wall-clock alone can look linear while state
quietly accumulates.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

from s4_spark.queries import REGISTRY
from s4_spark.session import get_spark

DEFAULT_ENTRIES = [
    "q234_streaming_funnel",
    "q235_streaming_funnel_reordered",
    "q241_transform_with_map_state_timers",
    "q251_rocksdb_changelog_restart",
    "q252_state_ttl_eviction",
    "q258_chained_streaming_aggs",
    "q269_join_then_window_chain",
    # r13: the last streaming-state entry with no x1000 row (q251/q258
    # gained theirs in r10; VERDICT r12 item 6)
    "q273_multi_watermark_policy",
]


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


class _BatchCapture(StreamingQueryListener):
    """Records every micro-batch (:func:`_batch_record`) of every query
    that reports progress while attached, so an entry's wall-clock can
    be attributed to its batches (e.g. q235: append-only data batches vs
    the watermark-release fold batch) and its state maxima read back.
    Listener dispatch is asynchronous — callers settle briefly before
    reading."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches.append(_batch_record(event.progress))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def q269_chunked_probe(spark, sf_dir: str, chunks: int) -> dict:
    """Close q269's at-scale state contract with a MEASURED row
    (VERDICT r10 item 3). The registry entry's availableNow rig replays
    the whole feed as ONE micro-batch, so the stream-stream join pays
    worst-case state by construction (39.9M rows at x1000) — the
    watermark only advances BETWEEN batches. This rig replays the same
    feed through the same `_q269_chain` plan in `chunks` time-ordered
    micro-batches (repartitionByRange on ts -> one file per range;
    mtimes bumped in range order because the file source processes
    files in modification-time order; maxFilesPerTrigger=1), so the
    watermark advances per chunk and the listener observes the real
    interval-bounded join state: ~2 chunks of feed + the 10-minute
    interval population, orders of magnitude under worst case. The
    query runs through ``rigs.drain_to_memory``, and the state maxima are
    read from the progress it returns."""
    import glob

    from pyspark.sql import functions as F

    from s4_spark.catalog import table
    from s4_spark.queries.streaming import _q269_chain
    from s4_spark.scratch import scratch
    from s4_spark.streaming.rigs import drain_to_memory, with_instant_ts

    ev = with_instant_ts(table(spark, sf_dir, "events"))
    feed_rows = ev.filter(F.col("event_type").isin("click", "purchase")).count()

    landing = scratch(f"q269chunked_{os.path.basename(sf_dir.rstrip('/'))}")
    ev.repartitionByRange(chunks, "ts").write.mode("overwrite").parquet(landing)
    parts = sorted(glob.glob(os.path.join(landing, "part-*.parquet")))
    base = time.time() - len(parts) - 10
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    t0 = time.time()
    out, progress = drain_to_memory(
        _q269_chain(stream),
        "append",
        "q269probe",
        # keep every batch's progress report (the default keeps 100):
        # one per chunk, each possibly followed by a no-data batch
        conf={"spark.sql.streaming.numRecentProgressUpdates": str(2 * len(parts))},
    )
    sec = round(time.time() - t0, 2)
    n_out = out.count()

    ops = _state_ops([_batch_record(p) for p in progress])
    join_ops = {k: v for k, v in ops.items() if "join" in k.lower()}
    join_max = max(join_ops.values(), default=0)
    res = {
        "sec": sec,
        "chunks": len(parts),
        "feed_rows_click_purchase": feed_rows,
        "out_rows": n_out,
        "state_ops": ops,
        "join_state_max": join_max,
        "join_state_vs_worst_case": round(join_max / feed_rows, 4)
        if feed_rows
        else None,
    }
    # the measured contract: chunked replay keeps join state an order
    # of magnitude (at least) under the whole-feed worst case
    assert join_max < feed_rows / 10, (
        f"join state {join_max} not interval-bounded vs feed {feed_rows}"
    )
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/tmp/s4_scaleprobe/sf10")
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--q269-chunked",
        type=int,
        default=None,
        metavar="K",
        help="run ONLY the chunked q269 state-contract rig with K "
        "time-ordered micro-batches (see q269_chunked_probe)",
    )
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="override spark.sql.shuffle.partitions for this probe run. "
        "Stateful operators pin their partition count at the first batch "
        "and AQE is disabled for them, so the session default (= cpus) "
        "fixes per-task state-op input share at corpus/cpus — which at "
        "x1000 on one JVM exceeds the heap (q241 OOM'd at 100M events). "
        "A real cluster bounds that share by executor width; this flag "
        "is the local analog.",
    )
    args = ap.parse_args()

    names = list(DEFAULT_ENTRIES)
    if args.only:
        names = [n for n in args.only.split(",") if n]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"not in the registry: {unknown}")

    extra = (
        {"spark.sql.shuffle.partitions": str(args.shuffle_partitions)}
        if args.shuffle_partitions
        else None
    )
    spark = get_spark(app_name="s4_stream_state_probe", extra_conf=extra)
    if args.q269_chunked:
        res = q269_chunked_probe(spark, args.sf_dir, args.q269_chunked)
        out = {"sf_dir": args.sf_dir, "q269_chunked": res}
        line = json.dumps(out)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
        return
    results: dict[str, dict] = {}
    for name in names:
        spark.catalog.clearCache()
        cap = _BatchCapture()
        spark.streams.addListener(cap)
        t0 = time.time()
        try:
            REGISTRY[name].fn(spark, args.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            sec = round(time.time() - t0, 2)
            time.sleep(2.0)  # let async listener dispatch settle
            ops = _state_ops(cap.batches)
            results[name] = {
                "sec": sec,
                "state_rows_max": max(ops.values(), default=0),
                "state_ops": ops,
                "batches": cap.batches,
            }
            print(f"{name}: {sec}s state_max={results[name]['state_rows_max']}",
                  file=sys.stderr)
        except Exception:
            results[name] = {"sec": None, "error": traceback.format_exc(limit=3)}
            print(f"FAIL {name}", file=sys.stderr)
            traceback.print_exc()
        finally:
            spark.streams.removeListener(cap)

    out = {"sf_dir": args.sf_dir, "results": results}
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
