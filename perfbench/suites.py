"""The registry suite: batch and streaming registry entries, run by
traced runs of the json_backfill workload for the per-layer ledger of
the queries and streaming layers. Their wall times do not repeat on a
shared host (see README.md), so no bounded metric rests on them.

One client runs the suite's entries back to back (closed loop), in
PASSES passes. The first pass warms the session: in a fresh JVM each
entry runs several times slower the first time (class loading, code
generation, JIT), and that cold cost varies from run to run. Each
entry's figure is its median over the later passes. Each entry is timed
as ``fn(spark, sf_dir)`` (build) plus ``.toPandas()`` (execute: run the
plan and bring the result to the client). Outside the timed region
every collected result is compared with the registry's DuckDB oracle
over the same generated tables.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import datagen
from harness import StreamLedger, median

# A Catalyst/AQE join with aggregation, and a streaming entry on the
# most common runner, run_to_memory, over small RocksDB state, whose cost
# is the stream lifecycle, which the join does not touch.
SUITE = (
    "q020_inner_join_tpch_q3",
    "q095_streaming_dedup",
)
PASSES = 3
WARM_PASSES = 1
SUITE_SF = {"full": 0.01, "tiny": 0.001}


def _cell(v) -> str:
    """Engine-neutral text of one result cell: numbers rounded to 6
    places, timestamps to microseconds, arrays element-wise."""
    if v is None:
        return "None"
    if isinstance(v, (bool,)) or type(v).__name__ == "bool_":
        return str(bool(v))
    if isinstance(v, (int, float, decimal.Decimal)) or hasattr(v, "dtype") and v.shape == ():
        f = float(v)
        if math.isnan(f):
            return "None"
        return str(int(f)) if f.is_integer() else repr(round(f, 6))
    if isinstance(v, dt.datetime) or type(v).__name__ == "Timestamp":
        import pandas as pd

        ts = pd.Timestamp(v)
        return "None" if pd.isna(ts) else ts.floor("us").isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return "[" + ",".join(_cell(x) for x in list(v)) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def result_digest(pdf) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-independent hash)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(r[c]) for c in cols) for r in pdf.to_dict("records")
    )
    return len(rows), tuple(cols), hashlib.md5("\n".join(rows).encode()).hexdigest()


def _duck(sf_dir: str):
    import duckdb

    from s4_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def run_entry(spark, tr, ledger, name: str, sf_dir: str) -> dict:
    from s4_spark.queries import REGISTRY

    entry = {"name": name, "error": None, "result": None}
    before = ledger.snapshot()
    with tr.span(f"queries.{name}") as s_all:
        try:
            with tr.span("queries.build") as s_build:
                df = REGISTRY[name].fn(spark, sf_dir)
            with tr.span("queries.exec") as s_exec:
                entry["result"] = df.toPandas()
            entry["build_s"], entry["exec_s"] = s_build.seconds, s_exec.seconds
        except Exception as e:  # an entry that raises counts as failed
            entry["error"] = f"{type(e).__name__}: {e}"
    entry["wall_s"], entry["window"] = s_all.seconds, (s_all.start, s_all.end)
    leaked = spark.streams.active
    if leaked:
        entry["error"] = entry["error"] or f"left {len(leaked)} stream(s) active"
        for q in leaked:
            q.stop()
    after = ledger.snapshot()
    entry["streams"] = after[0] - before[0]
    entry["trigger_s"] = after[2] - before[2]
    return entry


def registry_suite(spark, ctx) -> dict:
    from s4_spark.queries import REGISTRY

    tr = ctx.tracer
    sf = SUITE_SF[ctx.scale]
    sf_dir = os.path.join(ctx.run_dir, "data", f"sf{sf}")
    with tr.span("bench.input"):
        datagen.write(sf_dir, sf, ctx.seed)

    ledger = StreamLedger(spark)
    entries = [run_entry(spark, tr, ledger, name, sf_dir)
               for _ in range(WARM_PASSES) for name in SUITE]
    streams0 = ledger.snapshot()
    measured = [run_entry(spark, tr, ledger, name, sf_dir)
                for _ in range(PASSES - WARM_PASSES) for name in SUITE]
    entries += measured

    with tr.span("bench.check"):
        con = _duck(sf_dir)
        oracle = {name: result_digest(con.sql(REGISTRY[name].oracle).df()) for name in SUITE}
        for e in entries:
            if e["error"]:
                continue
            try:
                want = oracle[e["name"]]
                got = result_digest(e["result"])
            except Exception as ex:
                e["error"] = f"check {type(ex).__name__}: {ex}"
                continue
            if got != want:
                e["error"] = f"result {got[:2]} differs from oracle {want[:2]}"
        con.close()
        active_after = len(spark.streams.active)
        mem_tables = sum(1 for t in spark.catalog.listTables() if t.name.startswith("s4_mem_"))

    failed = [e for e in entries if e["error"]]
    ran = [e for e in measured if "build_s" in e]
    n = PASSES - WARM_PASSES
    per_entry = {name: median([e["wall_s"] for e in measured if e["name"] == name])
                 for name in SUITE}
    suite_s = sum(per_entry[name] for name in SUITE)
    layers = {
        "queries.suite_s": suite_s,
        "queries.build_s": sum(e["build_s"] for e in ran) / n,
        "queries.exec_s": sum(e["exec_s"] for e in ran) / n,
        **{f"queries.{name}.wall_s": v for name, v in per_entry.items()},
        "streaming.active_after": active_after,
        "streaming.mem_tables_left": mem_tables,
    }
    # per measured pass, like the queries figures
    started, batches, trigger_s, commit_s = (
        (b - a) / n for a, b in zip(streams0, ledger.snapshot()))
    streamed = [e for e in measured if e.get("streams")]
    layers.update({
        "streaming.queries_started": started,
        "streaming.batches": batches,
        "streaming.trigger_s": trigger_s,
        "streaming.state_commit_s": commit_s,
        "streaming.lifecycle_s": sum(e["wall_s"] - e["trigger_s"] for e in streamed) / n,
    })
    ledger.remove(spark)
    return {
        "attempted": len(entries),
        "failed": len(failed),
        "correct": not failed and active_after == 0,
        "windows": [e["window"] for e in measured],
        "layers": layers,
        "report": {
            "suite_s": suite_s,
            "suite_errors": {e["name"]: e["error"] for e in failed},
            "suite_entries": {name: round(v, 3) for name, v in per_entry.items()},
        },
    }
