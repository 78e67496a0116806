"""Streaming-specific semantics that the oracle harness can't express:
watermark late-drop behavior (q094) and the pipeline CLI surface."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from s4_spark.queries.registry import REGISTRY
from tests.conftest import SF_DIR, assert_no_leaks, session_snapshot


def test_q094_watermark_drops_late_rows(spark):
    out = REGISTRY["q094_watermark_late_drop"].fn(spark, SF_DIR).toPandas()
    assert len(out) > 0
    # phase 2 replays 50 rows at base+5min — far behind the watermark
    # (phase-1 max is ~1h ahead). If they had been accepted, the window
    # containing base+5min would appear again / with inflated counts.
    from s4_spark.catalog import table

    # batch ground truth for the phase-1 portion only (normalized read —
    # same type-adaptive path as the query itself):
    lo = table(spark, SF_DIR, "events").agg(F.min("ts")).collect()[0][0]
    lo_floor = pd.Timestamp(lo).floor("10min")
    w0 = out[out.w_start == lo_floor]
    assert len(w0) == 1, "first window must be emitted exactly once"
    # windows are emitted only once (append mode): no duplicates at all
    assert out.w_start.is_unique


def test_cli_mock_smoke(capsys):
    from s4_spark.pipeline.cli import main

    assert main(["mock", "--seconds", "3"]) == 0


def test_cli_requires_options():
    import pytest as _pytest

    from s4_spark.pipeline.cli import main

    with _pytest.raises(SystemExit):
        main(["run"])  # missing --input/--output/--checkpoint


def test_cli_region_flag(spark, monkeypatch):
    """VERDICT r12 item 4: --region / S4_REGION
    (/root/reference/main.go:30-34,62-72) must land on the built
    session's live Hadoop conf as fs.s3a.endpoint.region, and an
    s3a:// output without a region must fail like the reference's
    ErrOptionRequired."""
    import pytest as _pytest

    from s4_spark.pipeline import cli

    hconf = spark._jsc.hadoopConfiguration()
    hconf.unset("fs.s3a.endpoint.region")
    cli.apply_region(spark, "eu-test-9")
    assert hconf.get("fs.s3a.endpoint.region") == "eu-test-9"

    # argparse wiring: flag beats env, env is the fallback
    seen = []
    monkeypatch.setattr(cli, "apply_region",
                        lambda s, r: seen.append(r) or (_ for _ in ()).throw(
                            SystemExit(42)))
    monkeypatch.setenv("S4_REGION", "env-region")
    with _pytest.raises(SystemExit):
        cli.main(["run", "--input", "/i", "--output", "/o",
                  "--checkpoint", "/c", "--region", "flag-region"])
    with _pytest.raises(SystemExit):
        cli.main(["run", "--input", "/i", "--output", "/o",
                  "--checkpoint", "/c"])
    assert seen == ["flag-region", "env-region"], seen

    # s3a:// output without any region: ErrOptionRequired analog
    monkeypatch.delenv("S4_REGION")
    with _pytest.raises(SystemExit):
        cli.main(["run", "--input", "/i", "--output", "s3a://bkt/p",
                  "--checkpoint", "/c"])
    assert seen == ["flag-region", "env-region"]  # never reached apply
    hconf.unset("fs.s3a.endpoint.region")


def test_cli_run_stops_its_query_when_the_wait_ends(spark, monkeypatch, tmp_path):
    """``cli run`` stops the query it started however the wait ends: an
    interrupt (Ctrl-C) propagates, and the query is stopped first."""
    import pytest as _pytest

    from s4_spark.pipeline import cli, s4

    class Query:
        stopped = False

        def awaitTermination(self):
            raise KeyboardInterrupt

        def stop(self):
            self.stopped = True

    q = Query()
    monkeypatch.setattr(s4, "start", lambda spark, cfg: q)
    with _pytest.raises(KeyboardInterrupt):
        cli.main(["run", "--input", str(tmp_path / "in"),
                  "--output", str(tmp_path / "out"),
                  "--checkpoint", str(tmp_path / "ckpt")])
    assert q.stopped


def test_exactly_once_across_restarts(spark):
    """The headline upgrade over the reference (SURVEY.md Appendix B:
    LevelDB delete-before-send loses data on crash; LineRiver truncate
    races writers): run the pipeline, add more input, run AGAIN through
    the SAME checkpoint — every record delivered exactly once, the
    already-committed batch never re-emitted."""
    import glob
    import gzip
    import os

    from pyspark.sql import functions as F

    from s4_spark.pipeline.s4 import S4Config, run_once
    from s4_spark.scratch import scratch

    landing = scratch("eo_landing")
    out = scratch("eo_out")
    ckpt = scratch("eo_ckpt")
    os.makedirs(landing, exist_ok=True)

    def feed(lo, hi, fname):
        with open(os.path.join(landing, fname), "w") as f:
            for i in range(lo, hi):
                f.write(f"rec-{i}\n")

    def committed():
        rows = []
        for f in glob.glob(os.path.join(out, "**", "*.gz"), recursive=True):
            with gzip.open(f, "rt") as fh:
                rows += [line.strip() for line in fh]
        return rows

    cfg = S4Config(
        input_path=landing, output_path=out, checkpoint_path=ckpt,
        record_type="line",
    )
    feed(0, 500, "a.txt")
    run_once(spark, cfg)
    assert sorted(committed()) == sorted(f"rec-{i}" for i in range(500))

    feed(500, 800, "b.txt")
    run_once(spark, cfg)  # same checkpoint: resumes, must not re-emit a.txt
    got = committed()
    assert sorted(got) == sorted(f"rec-{i}" for i in range(800))
    assert len(got) == len(set(got))  # no duplicates


def test_single_object_per_flush_compat_mode(spark, tmp_path):
    """SURVEY §4.3: with single_object_per_flush the lake sink reproduces
    the reference's literal batch shape — ONE gzip object per trigger per
    partition dir (river/jsonr.go:70-78 drains the buffer into one body
    per ticker fire; lake/lake.go:65-90 PUTs one object) — committed by
    the file sink's own _spark_metadata log, with no rename.
    Two input files fed one run at a time make two triggers; both
    land in the same (processing-time, UTC today) partition dir. Each
    log entry adds exactly one object there, holding its batch's lines.
    A third file through the SAME checkpoint adds a third object without
    touching the first two, and the lake read goes through the log, so a
    stray part-file in the partition dir is not read."""
    import glob
    import gzip
    import json
    from urllib.parse import urlparse

    from s4_spark.pipeline.s4 import S4Config, run_once

    landing, out, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    os.makedirs(landing)

    def feed(lo, hi, fname):
        with open(os.path.join(landing, fname), "w") as f:
            for i in range(lo, hi):
                f.write(f"rec-{i}\n")

    def logged(batch):
        """The data objects log entry ``batch`` committed."""
        with open(os.path.join(out, "_spark_metadata", str(batch))) as f:
            assert f.readline().strip() == "v1"
            return [urlparse(json.loads(ln)["path"]).path for ln in f if ln.strip()]

    def lines(path):
        with gzip.open(path, "rt") as fh:
            return [ln.rstrip("\n") for ln in fh]

    cfg = S4Config(
        input_path=landing, output_path=out, checkpoint_path=ckpt,
        record_type="line", single_object_per_flush=True,
    )
    feed(0, 100, "a.txt")
    run_once(spark, cfg)
    feed(100, 250, "b.txt")
    run_once(spark, cfg)
    first = [logged(0), logged(1)]
    feed(250, 300, "c.txt")
    before = {o: os.path.getmtime(o) for objs in first for o in objs}
    run_once(spark, cfg)  # same checkpoint: resumes at batch 2
    objs = first + [logged(2)]

    part_dirs = glob.glob(os.path.join(out, "year=*", "month=*", "day=*"))
    assert len(part_dirs) == 1, part_dirs
    got = []
    for batch, (lo, hi) in enumerate([(0, 100), (100, 250), (250, 300)]):
        assert len(objs[batch]) == 1, objs[batch]
        (obj,) = objs[batch]
        assert os.path.dirname(obj) == part_dirs[0]
        assert obj.endswith(".txt.gz")
        assert sorted(lines(obj)) == sorted(f"rec-{i}" for i in range(lo, hi))
        got += lines(obj)
    assert sorted(got) == sorted(f"rec-{i}" for i in range(300))
    for o, mt in before.items():
        assert os.path.getmtime(o) == mt

    # an object the log never committed (what a crashed task leaves) is
    # invisible to a read of the lake
    stray = os.path.join(part_dirs[0], "part-99999-stray.c000.txt.gz")
    with gzip.open(stray, "wt") as f:
        f.write("stray\n")
    values = [r.value for r in spark.read.text(out).select("value").collect()]
    assert sorted(values) == sorted(f"rec-{i}" for i in range(300))


def test_event_time_lake_writes_one_object_per_day_per_batch(spark, tmp_path):
    """Under event-time keys a batch spans many days, and the lake lands
    ONE object per year=/month=/day= dir per batch (the reference PUTs
    one object per flush per key, lake/lake.go:65-90), not one per input
    task per dir. Four input files, each spanning the same three days,
    are read by at least two tasks in one availableNow batch; the log
    entry lists one object in each of the three day dirs, holding
    exactly the valid lines, and no malformed line lands."""
    import gzip
    import json
    from urllib.parse import urlparse

    from s4_spark.pipeline.s4 import S4Config, run_once

    landing, out, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    os.makedirs(landing)
    valid = []
    for f in range(4):
        rows = [
            json.dumps({"id": f"{f}-{i}", "ts": f"2024-03-0{1 + i % 3} 12:00:00"})
            for i in range(30)
        ]
        valid += rows
        with open(os.path.join(landing, f"part-{f}.json"), "w") as fh:
            fh.write("\n".join(rows + ['{"id": "broken', "[1, 2]", "42"]) + "\n")

    run_once(spark, S4Config(
        input_path=landing, output_path=out, checkpoint_path=ckpt,
        record_type="json", json_schema="id string, ts timestamp",
        event_time_col="ts",
    ))

    with open(os.path.join(out, "_spark_metadata", "0")) as f:
        assert f.readline().strip() == "v1"
        objs = [urlparse(json.loads(ln)["path"]).path for ln in f if ln.strip()]
    by_dir = {}
    for o in objs:
        by_dir.setdefault(os.path.relpath(os.path.dirname(o), out), []).append(o)
    assert sorted(by_dir) == [
        f"year=2024/month=3/day={d}" for d in (1, 2, 3)
    ], by_dir
    assert all(len(v) == 1 for v in by_dir.values()), by_dir
    got = []
    for o in objs:
        with gzip.open(o, "rt") as fh:
            got += [ln.rstrip("\n") for ln in fh]
    assert sorted(got) == sorted(valid)


def test_processing_time_partitions_compile_nothing_per_trigger(spark, tmp_path):
    """Spark inlines the batch's current time into the generated code as
    a literal, so arrival-time keys taken from ``current_timestamp``
    made every trigger compile new classes. Keyed by ``current_date``,
    a processing-time pipeline over a landing dir compiles nothing
    between batch 3 and batch 8."""
    import time

    from s4_spark.pipeline import s4

    landing = tmp_path / "landing"
    landing.mkdir()
    cfg = s4.S4Config(
        input_path=str(landing),
        output_path=str(tmp_path / "lake"),
        checkpoint_path=str(tmp_path / "ckpt"),
        flush_interval="100 milliseconds",
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = {}
    q = s4.start(spark, cfg)
    try:
        for i in range(9):
            staged = tmp_path / f"f{i}.txt"
            staged.write_text("".join(f"rec-{i}-{j}\n" for j in range(10)))
            os.replace(staged, landing / staged.name)
            deadline = time.time() + 60
            while not any(
                p.batchId == i and p.numInputRows for p in q.recentProgress
            ):
                assert time.time() < deadline, f"batch {i} never ran"
                time.sleep(0.05)
            compiled[i] = codegen.METRIC_COMPILATION_TIME().getCount()
    finally:
        q.stop()
    assert compiled[8] == compiled[3], compiled


def test_q165_outer_join_exact_rows(spark):
    """q165: exactly 10 matched rows (users 0-9, r_val = 100*user) and
    10 null-padded unmatched rows (users 10-19); sentinels never emit."""
    from s4_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    rows = REGISTRY["q165_stream_stream_outer_join"].fn(spark, SF_DIR).collect()
    got = {(r.user_id, r.l_val, r.r_val) for r in rows}
    want = {(u, u * 10, u * 100) for u in range(10)} | {
        (u, u * 10, None) for u in range(10, 20)
    }
    assert got == want, sorted(got)


def test_cli_corpus_prep(spark, tmp_path):
    """`cli corpus` writes the cleaned corpus; row count equals q130's
    per-lang totals (the CLI runs the same stages as the oracle-checked
    query)."""
    from s4_spark.pipeline.cli import main
    from s4_spark.queries import REGISTRY
    from tests.conftest import SF_DIR
    import os

    out = str(tmp_path / "clean")
    rc = main([
        "corpus", "--input", os.path.join(SF_DIR, "documents.parquet"),
        "--output", out,
    ])
    assert rc == 0
    got = spark.read.parquet(out).count()
    want = sum(
        r.n_docs
        for r in REGISTRY["q130_corpus_prep"].fn(spark, SF_DIR).collect()
    )
    assert got == want


def test_events_paths_survive_nanos_generator_flip(spark, tmp_path):
    """Round-2 lesson, pinned: the driver's generator has stored
    events.ts as parquet TIMESTAMP(NANOS) and as native NTZ across
    rounds. Synthesize the NANOS variant and assert BOTH the batch
    catalog path and the streaming rig normalize it to the same NTZ
    micros — the exact regression that broke 13 tests in round 2."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from s4_spark.catalog import table
    from s4_spark.streaming.rigs import events_stream, run_to_memory

    sf_fake = tmp_path / "sf_nanos_flip"
    sf_fake.mkdir()
    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in µs
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [(base_us + i * 1_000_000) * 1000 for i in range(3)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["view", "click", "view"], pa.string()),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(['{"k": 1}'] * 3, pa.string()),
        }
    )
    pq.write_table(tbl, sf_fake / "events.parquet", store_schema=False)

    batch = table(spark, str(sf_fake), "events")
    assert batch.schema["ts"].dataType.typeName() == "timestamp_ntz"
    batch_rows = batch.select("event_id", "ts").orderBy("event_id").collect()

    ev = events_stream(spark, str(sf_fake))
    agg = ev.groupBy("event_type").count()
    out = run_to_memory(agg, mode="complete", tag="nanos_flip")
    assert {(r["event_type"], r["count"]) for r in out.collect()} == {
        ("view", 2),
        ("click", 1),
    }
    # wall clocks identical between engines' views of the same instant
    import datetime

    assert batch_rows[0].ts == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_q209_index_batch_replay_is_idempotent(spark, tmp_path):
    """q209's exactly-once claim, through the sink q209 uses
    (rigs.idempotent_batch_sink): a replayed micro-batch (failure after
    write, before checkpoint commit) leaves the maintained index
    bit-identical, where a blind append would double-index; a leaf a
    crash left without its commit marker is invisible to the read-back
    until the replay rewrites it."""
    from s4_spark.operators import dedup as D
    from s4_spark.streaming.rigs import (
        COMMIT_MARKER,
        idempotent_batch_sink,
        read_batched_parquet,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} a b c d e f") for i in range(20)],
        "doc_id long, text string",
    )
    index_dir = str(tmp_path / "idx")

    def band_rows(df):
        sig = D.with_minhash_signature(
            D.shingles_exploded(df, "doc_id"), "doc_id"
        )
        return D.banded_signatures(sig, "doc_id")

    sink = idempotent_batch_sink(index_dir)
    seed = band_rows(docs.filter(F.col("doc_id") < 10))
    sink(seed, -1)
    batch = docs.filter(F.col("doc_id") >= 10)
    sink(band_rows(batch), 0)

    def index():
        return sorted(
            (r["doc_id"], r["band_id"], r["band_key"])
            for r in read_batched_parquet(spark, index_dir, seed.schema).collect()
        )

    first = index()
    assert len(first) == 20 * 24
    assert {d for d, _, _ in first} == set(range(20))
    sink(band_rows(batch), 0)  # replay of the same committed batch
    assert index() == first
    # a crash between the parquet write and the marker PUT
    os.remove(os.path.join(index_dir, "b0", COMMIT_MARKER))
    assert len(index()) == 10 * 24  # only the seed leaf b-1 is visible
    sink(band_rows(batch), 0)  # the replay rewrites the leaf and commits it
    assert index() == first


def test_q234_funnel_state_survives_multi_batch(spark, tmp_path):
    """q234's correctness test runs availableNow over one landing file =
    ONE micro-batch, so it never exercises cross-batch GroupState or
    the claim that max() recovers the final state when update mode
    emits one row per user per batch. Force 3 micro-batches
    (maxFilesPerTrigger=1 over 3 time-ordered files) and assert the
    aggregated funnel equals the single-batch result."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from s4_spark.catalog import table
    from s4_spark.streaming.rigs import drain_to_memory, stage_file, with_instant_ts

    # time-ordered thirds so cross-batch arrival respects event order
    ev = table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    third = (ev.count() + 2) // 3
    rank = F.row_number().over(Window.orderBy("ts", "event_id")) - 1
    ranked = ev.withColumn("_third", F.floor(rank / third))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i in range(3):
        # FileStreamSource orders files by modification time, which can
        # TIE on coarse-mtime filesystems: pin strictly increasing mtimes
        stage_file(
            ranked.filter(F.col("_third") == i).drop("_third"),
            landing,
            f"{i:03d}.parquet",
            1_000_000 + i,
        )

    DEADLINE_US = 48 * 3600 * 1_000_000

    def funnel(key, pdfs, state: GroupState):
        t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
        batch = [pdf for pdf in pdfs if len(pdf)]
        if batch:
            pdf = pd.concat(batch).sort_values(["ts", "event_id"])
            ts_us = (
                pdf["ts"].values.astype("datetime64[ns]").astype("int64")
                // 1000
            )
            for et, t_us in zip(pdf["event_type"].values, ts_us):
                t_us = int(t_us)
                if t1 < 0:
                    if et == "view":
                        t1 = t_us
                elif t2 < 0:
                    if et == "click" and t1 < t_us <= t1 + DEADLINE_US:
                        t2 = t_us
                elif t3 < 0:
                    if et == "purchase" and t2 < t_us <= t2 + DEADLINE_US:
                        t3 = t_us
        state.update((t1, t2, t3))
        yield pd.DataFrame(
            {"user_id": [key[0]], "t1": [t1], "t2": [t2], "t3": [t3]}
        )

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(landing)
    )
    stream = with_instant_ts(stream)
    out = stream.groupBy("user_id").applyInPandasWithState(
        funnel,
        outputStructType="user_id long, t1 long, t2 long, t3 long",
        stateStructType="t1 long, t2 long, t3 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    snap, progress = drain_to_memory(out, "update", "q234multi")
    assert sum(p["numInputRows"] > 0 for p in progress) == 3
    # update mode over 3 batches: multiple rows per user; write-once
    # slots make max() the final state
    assert snap.count() > snap.select("user_id").distinct().count(), (
        "test must actually exercise multiple emissions per user"
    )
    final = (
        snap.groupBy("user_id")
        .agg(
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.max("t3").alias("t3"),
        )
        .orderBy("user_id")
        .collect()
    )
    # compare against the registry entry's own (single-batch) result
    got_steps = {
        "step1": sum(1 for r in final if r.t1 >= 0),
        "step2": sum(1 for r in final if r.t2 >= 0),
        "step3": sum(1 for r in final if r.t3 >= 0),
    }
    single = {
        r.step: r.n_users
        for r in REGISTRY["q234_streaming_funnel"].fn(spark, SF_DIR).collect()
    }
    assert got_steps["step1"] == single["step1_view"]
    assert got_steps["step2"] == single["step2_click"]
    assert got_steps["step3"] == single["step3_purchase"]


def test_funnel_fold_reaches_a_worker_without_the_package(tmp_path):
    """The shared funnel fold ships by value: it unpickles and runs in
    an interpreter that cannot import s4_spark, as a Python worker may
    be."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from s4_spark.queries.streaming import _funnel_fold

    blob = tmp_path / "fold.pkl"
    blob.write_bytes(cloudpickle.dumps(_funnel_fold()))
    code = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('s4_spark') is None\n"
        "fold = pickle.load(open(sys.argv[1], 'rb'))\n"
        "print(fold(-1, -1, -1, [('click', 1), ('view', 2), ('click', 3),"
        " ('purchase', 2 + 49 * 3600 * 10**6)]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", code, str(blob)],
        cwd=tmp_path, env=env, capture_output=True, text=True, check=True,
    )
    # the click before the view is ignored; the purchase is past 48 h
    assert run.stdout.strip() == "(2, 3, -1)"


def test_q235_feed_is_genuinely_out_of_order(spark):
    """q235's whole point is surviving cross-batch disorder: verify the
    hash(event_id)%3 split actually interleaves event time — every
    split's time range overlaps every other's, so each micro-batch
    contains events OLDER than ones already processed in the previous
    batch (the in-order assumption q234 documents is truly violated)."""
    from pyspark.sql import functions as F

    from s4_spark.catalog import table

    ev = table(spark, SF_DIR, "events").select("event_id", "ts")
    splits = [
        ev.filter(F.abs(F.xxhash64("event_id")) % 3 == i)
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
        for i in range(3)
    ]
    for i in range(3):
        for j in range(3):
            if i != j:
                assert splits[i]["lo"] < splits[j]["hi"], (i, j)


def test_q251_changelog_files_written_and_state_recovered(spark, duck):
    """q251 must EXERCISE changelog checkpointing, not merely set the
    conf: after the two-run restart rig, the checkpoint's state
    directory contains .changelog files (the per-batch deltas RocksDB
    uploads instead of full snapshots), and the final totals equal the
    full-table batch aggregate — which is only reachable if run 2
    rebuilt run-1 state from those changelogs."""
    import glob

    from s4_spark.queries import REGISTRY
    from s4_spark.queries.streaming import q251_checkpoint_dir
    from tests.conftest import SMOKE_SF_DIR

    got = {
        (r["user_id"], r["n_events"])
        for r in REGISTRY["q251_rocksdb_changelog_restart"]
        .fn(spark, SMOKE_SF_DIR)
        .collect()
    }
    want = {
        (r[0], r[1])
        for r in duck.sql(
            "SELECT user_id, count(*) FROM "
            f"read_parquet('{SMOKE_SF_DIR}/events.parquet') GROUP BY user_id"
        ).fetchall()
    }
    assert got == want
    changelogs = glob.glob(
        os.path.join(q251_checkpoint_dir(SMOKE_SF_DIR), "state", "**", "*.changelog"),
        recursive=True,
    )
    assert changelogs, "no .changelog files — changelog checkpointing not exercised"


def test_q251_restores_changelog_conf(spark):
    """r13 x1000 probe find: q251 left changelogCheckpointing enabled at
    SESSION scope, and a q258 run later in the same session measured
    188 s vs 23 s solo (every subsequent streaming query silently ran
    in changelog mode). The entry must restore the conf on exit —
    collect() the previous test's rig already ran; here just assert the
    session is clean after a fresh invocation.

    Second case, a vanilla session (no ``providerClass`` set): the
    RocksDB-only entries scope the provider to their run, so q174 must
    leave it unset rather than pin RocksDB for every later query."""
    from s4_spark.queries import REGISTRY
    from tests.conftest import SMOKE_SF_DIR

    conf = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    before = spark.conf.get(conf, None)
    REGISTRY["q251_rocksdb_changelog_restart"].fn(spark, SMOKE_SF_DIR).collect()
    assert spark.conf.get(conf, None) == before, (
        "q251 leaked the changelog conf into the session"
    )

    provider = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(provider, None)
    spark.conf.unset(provider)
    try:
        REGISTRY["q174_transform_with_state"].fn(spark, SMOKE_SF_DIR).collect()
        assert spark.conf.get(provider, None) is None, (
            "q174 pinned the state-store provider on a vanilla session"
        )
    finally:
        if saved is not None:
            spark.conf.set(provider, saved)


def test_run_to_memory_removes_its_scratch_checkpoint(spark, tmp_path):
    """A checkpoint the runner made for itself is removed once the drain
    returns; only a checkpoint the caller passed in (to read state
    from) outlives the run."""
    import glob

    from s4_spark.scratch import scratch_root
    from s4_spark.streaming.rigs import run_to_memory

    landing = str(tmp_path / "landing")
    spark.range(5).write.parquet(landing)
    stream = spark.readStream.schema("id long").parquet(landing)
    assert run_to_memory(stream, "append", tag="ckpt_cleanup").count() == 5
    left = glob.glob(os.path.join(scratch_root(), "ckpt_s4_mem_*"))
    assert not left, f"run_to_memory left scratch checkpoints {left}"


def test_q252_ttl_actually_evicts(spark):
    """The TTL proof, stated as an inequality: phase-2 counts must
    equal the phase-2-only aggregate — strictly LESS than the
    cumulative totals a TTL-less restart (q251's behavior) would
    carry over for every user present in both phases."""
    import pyspark.sql.functions as F  # noqa: N812

    from s4_spark.queries import REGISTRY
    from tests.conftest import SMOKE_SF_DIR

    out = REGISTRY["q252_state_ttl_eviction"].fn(spark, SMOKE_SF_DIR).collect()
    p1 = {r["user_id"]: r["n"] for r in out if r["phase"] == 1}
    p2 = {r["user_id"]: r["n"] for r in out if r["phase"] == 2}
    both = set(p1) & set(p2)
    assert both, "rig degenerate: no user appears in both phases"
    ev = spark.read.parquet(os.path.join(SMOKE_SF_DIR, "events.parquet"))
    want_p2 = {
        r["user_id"]: r["n"]
        for r in ev.filter(F.col("event_id") % 2 != 0)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert p2 == want_p2  # phase-2-only counts: state was evicted
    assert all(p2[u] < p1[u] + want_p2[u] for u in both)


def test_q258_runs_two_stateful_operators(spark, duck):
    """q258 must be ONE query with TWO stateful operators (the chained
    10-min and hourly aggregations) — not two queries stitched through
    a sink. The progress report's stateOperators list pins it, and the
    result still matches the horizon-filtered batch aggregate."""
    got = REGISTRY["q258_chained_streaming_aggs"].fn(spark, SF_DIR)
    n_rows = got.count()
    assert n_rows > 0
    from s4_spark.queries.streaming import q258

    assert q258.last_state_operator_count == 2, q258.last_state_operator_count


def _q273_companion_run(spark, purchase_bound: str, tag: str):
    """Drive q273's union-of-watermarked-streams shape live with a
    parameterized purchase bound; return (emitted window starts,
    final global watermark string from query progress)."""
    from s4_spark.streaming.rigs import replay

    def rows(etype):  # one row at hh:30 for hh in 00..03
        return spark.sql(
            "SELECT * FROM VALUES "
            + ", ".join(f"('{etype}', TIMESTAMP '2024-01-01 0{h}:30:00')" for h in range(4))
            + " AS t(etype, ts)"
        )

    clicks, purch = rows("click"), rows("purchase")

    def build(cs, ps):
        u = cs.withWatermark("ts", "1 minute").unionByName(
            ps.withWatermark("ts", purchase_bound)
        )
        return (
            u.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )

    # the tick after the phase advances both source watermarks past its maxes
    got, progress = replay(spark, [(clicks, purch)], build, tag)
    starts = sorted(r.w_start for r in got.collect())
    return starts, progress[-1]["eventTime"]["watermark"]


def test_q273_min_policy_slow_source_withholds_window(spark):
    """q273's claimed mechanism, live: under the default `min` global
    watermark policy the LAGGY purchase bound (65 min) governs window
    close for the whole union — the tight-bound run emits exactly one
    more closed hour window, and the withheld window is the latest one.
    The final global watermark equals min(max_click - 1min,
    max_purchase - 65min) for the laggy run and max - 1min for the
    tight run."""
    import datetime as dt

    laggy, wm_laggy = _q273_companion_run(spark, "65 minutes", "q273lag")
    tight, wm_tight = _q273_companion_run(spark, "1 minute", "q273tight")
    # data max = 03:30; laggy wm = min(03:29, 02:25) = 02:25 → windows
    # [00:00) and [01:00) close (end <= 02:25); tight wm = 03:29 adds [02:00).
    assert laggy == [dt.datetime(2024, 1, 1, 0), dt.datetime(2024, 1, 1, 1)], laggy
    assert tight == laggy + [dt.datetime(2024, 1, 1, 2)], tight
    assert wm_laggy == "2024-01-01T02:25:00.000Z", wm_laggy
    assert wm_tight == "2024-01-01T03:29:00.000Z", wm_tight


def test_q269_join_then_window_is_one_query_two_state_ops(spark, duck):
    """q269 must be ONE query chaining a stream-stream interval join into
    a windowed aggregation — two state operators in the progress report,
    not a join query stitched to an agg query through a sink."""
    got = REGISTRY["q269_join_then_window_chain"].fn(spark, SF_DIR)
    assert got.count() > 0
    from s4_spark.queries.streaming import q269

    assert q269.last_state_operator_count == 2, q269.last_state_operator_count


def test_idempotent_batch_sink_retry_and_partial_write(spark, tmp_path):
    """ADVICE r10: a plain append foreachBatch sink duplicates rows when a
    batch is retried after a partial write. The batchId-keyed sink must
    (a) land a batch exactly once, (b) make a retry of a landed batch a
    no-op, (c) heal a leftover marker-less partial dir from a crashed
    attempt, and (d) read back empty (not UNABLE_TO_INFER_SCHEMA) when
    nothing landed. Round 13: the protocol is a zero-byte _S4_COMMIT
    marker through the Hadoop FileSystem API (object-store-safe), not a
    POSIX directory rename — crash states are now marker-less dirs."""
    import os

    from s4_spark.streaming.rigs import (
        COMMIT_MARKER,
        idempotent_batch_sink,
        read_batched_parquet,
    )

    out = str(tmp_path / "sink")
    os.makedirs(out)
    df = spark.range(5).select(F.col("id"))
    sink = idempotent_batch_sink(out)

    # (d) empty read-back before anything lands
    assert read_batched_parquet(spark, out, df.schema).count() == 0

    # simulate a crashed first attempt: partial data dir, NO commit marker
    crash_dir = os.path.join(out, "b0")
    df.limit(2).write.parquet(crash_dir)
    assert read_batched_parquet(spark, out, df.schema).count() == 0

    # (c) retry overwrites the partial dir and commits exactly the batch
    sink(df, 0)
    assert os.path.exists(os.path.join(crash_dir, COMMIT_MARKER))
    assert read_batched_parquet(spark, out, df.schema).count() == 5

    # (b) re-delivery of a committed batch is a no-op — no duplicates
    sink(df, 0)
    assert read_batched_parquet(spark, out, df.schema).count() == 5

    # (a) a second batch appends under its own key
    sink(df, 1)
    got = read_batched_parquet(spark, out, df.schema)
    assert got.count() == 10
    assert sorted(r.id for r in got.collect()) == sorted(list(range(5)) * 2)

    # (e) ADVICE r11: an UNCOMMITTED leftover dir (query stopped between
    # the parquet job commit and the marker PUT — q252's deliberate
    # q.stop() path) must NOT surface rows in the read-back
    df.limit(3).write.parquet(os.path.join(out, "b2"))
    assert read_batched_parquet(spark, out, df.schema).count() == 10

    # (f) nonexistent sink dir reads back empty, same as a bare one
    assert (
        read_batched_parquet(spark, str(tmp_path / "never"), df.schema).count()
        == 0
    )


def test_batch_sink_commit_routes_through_hadoop_fs(spark, tmp_path):
    """VERDICT r12 item 2: the exactly-once commit must go through the
    Hadoop FileSystem abstraction (marker exists/create via the scheme's
    FileSystem), never the driver's POSIX view, so the same closure is
    correct on object stores. Driven here through an explicit
    ``file:``-scheme URI — a path os.path.exists would mis-answer —
    plus a direct check that the marker is a zero-byte object."""
    import os

    from s4_spark.streaming.rigs import (
        COMMIT_MARKER,
        hadoop_fs,
        idempotent_batch_sink,
        read_batched_parquet,
    )

    local = str(tmp_path / "fs_sink")
    os.makedirs(local)
    out = "file://" + local  # os.path.exists("file:///...") is False
    assert not os.path.exists(out)
    df = spark.range(4).select(F.col("id"))

    sink = idempotent_batch_sink(out)
    sink(df, 0)
    sink(df, 0)  # marker-gated no-op, resolved via the file:// FileSystem
    got = read_batched_parquet(spark, out, df.schema)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]

    marker = os.path.join(local, "b0", COMMIT_MARKER)
    assert os.path.exists(marker) and os.path.getsize(marker) == 0

    # the handle pair the protocol uses resolves the same namespace
    fs, Path = hadoop_fs(spark, out)
    assert fs.exists(Path(out + "/b0/" + COMMIT_MARKER))
    names = sorted(
        st.getPath().getName() for st in fs.listStatus(Path(out))
    )
    assert names == ["b0"], names


def test_replay_ticks_each_phase_and_drops_rows_late_against_it(spark):
    """rigs.replay's contract: every staged phase is one micro-batch
    followed by an empty tick batch, and a phase-2 row older than the
    watermark phase 1 set is dropped (q094's oracle is the end-to-end
    guard of the same boundary)."""
    from s4_spark.streaming.rigs import replay

    def rows(*id_minute):  # (id, minute past 2024-01-01 00:00)
        return spark.sql(
            "SELECT * FROM VALUES "
            + ", ".join(f"({i}L, TIMESTAMP '2024-01-01 00:{m:02d}:00')" for i, m in id_minute)
            + " AS t(id, ts)"
        )

    p1 = rows((1, 0), (2, 20), (3, 40))
    # phase 1 sets the watermark to 00:30; row 4 at 00:05 is late
    p2 = rows((4, 5), (5, 55))

    def build(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.collect_list("id").alias("ids"))
        )

    got, progress = replay(spark, [(p1,), (p2,)], build, tag="rig_contract")
    assert [p["numInputRows"] for p in progress] == [3, 0, 2, 0]
    # the final watermark (00:45) closes the 00:00 and 00:20 windows
    assert sorted(i for r in got.collect() for i in r.ids) == [1, 2]


def test_replay_stops_query_and_restores_conf_when_a_phase_raises(spark):
    """A replay phase that fails to stage (here: its write raises) must
    not leave the replay query running, its memory view registered, or
    the replay conf pinned on the session."""
    from s4_spark.streaming.rigs import replay

    before = session_snapshot(spark)
    p1 = spark.range(3).select(
        "id", F.timestamp_seconds(F.col("id") * 60).alias("ts")
    )
    bad = p1.withColumn(
        "ts", F.raise_error(F.lit("injected phase failure")).cast("timestamp")
    )

    def build(stream):
        return (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "10 minutes"))
            .count()
        )

    with pytest.raises(Exception, match="injected phase failure"):
        replay(spark, [(p1,), (bad,)], build, tag="leak_replay")
    assert_no_leaks(spark, "replay", before)


def test_available_now_drain_stops_query_and_restores_conf_on_failure(
    spark, tmp_path
):
    """An availableNow drain whose query fails surfaces the failure and
    still stops the query, drops its memory view and restores the
    run's conf."""
    from s4_spark.streaming.rigs import run_to_memory

    key = "spark.sql.shuffle.partitions"
    before = session_snapshot(spark)
    landing = str(tmp_path / "landing")
    spark.range(5).write.parquet(landing)
    stream = spark.readStream.schema("id long").parquet(landing).select(
        F.when(F.col("id") < 10, F.raise_error(F.lit("injected batch failure")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="injected batch failure"):
        run_to_memory(stream, "append", tag="leak_drain", conf={key: "3"})
    assert_no_leaks(spark, "run_to_memory", before)


def test_event_time_col_requires_json_records(spark, tmp_path):
    """event_time_col is read from the parsed JSON record, so a line
    pipeline that sets it is refused before any query starts."""
    from s4_spark.pipeline.s4 import S4Config, run_once

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.txt").write_text('{"ts": "2024-01-02 03:04:05"}\n')
    cfg = S4Config(
        input_path=str(landing),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        record_type="line",
        json_schema="ts timestamp",
        event_time_col="ts",
    )
    with pytest.raises(ValueError, match="record_type"):
        run_once(spark, cfg)
    assert spark.streams.active == []


@pytest.mark.parametrize("fmt", ["socket", "parquet"])
def test_unknown_source_format_is_refused(spark, tmp_path, fmt):
    """Only the text landing dir and the unixline socket are sources: any
    other source_format (a stale "socket" config included) raises instead
    of falling through to the text reader, and the CLI refuses it."""
    from s4_spark.pipeline.cli import main
    from s4_spark.pipeline.s4 import S4Config, run_once

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.txt").write_text("one\ntwo\n")
    cfg = S4Config(
        input_path=str(landing),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source_format=fmt,
    )
    with pytest.raises(ValueError, match="source_format"):
        run_once(spark, cfg)
    assert spark.streams.active == []
    assert not (tmp_path / "out").exists()
    with pytest.raises(SystemExit):
        main(["run", "--input", str(landing), "--output", str(tmp_path / "o"),
              "--checkpoint", str(tmp_path / "c"), "--source", fmt, "--once"])


def test_run_once_leaves_config_unchanged(spark, tmp_path):
    """run_once must not mutate the caller's config: a config reused
    with start() after a backfill drain must still run on its ticker."""
    from s4_spark.pipeline.s4 import S4Config, run_once

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.txt").write_text("one\ntwo\n")
    fields = dict(
        input_path=str(landing),
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    cfg = S4Config(**fields)
    run_once(spark, cfg)
    assert cfg == S4Config(**fields)
