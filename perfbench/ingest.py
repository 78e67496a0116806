"""The two S4 ingest workloads: ``socket_ingest`` (unix-socket server
mode, open-loop rate ladder) and ``json_backfill`` (availableNow drain of
a JSON-lines landing directory). Both read the gzip lake back, outside
the timed region, and check every record.
"""

from __future__ import annotations

import datetime as dt
import glob
import gzip
import json
import os
import random
import subprocess
import sys
import time

from harness import StreamLedger, median, offset_index, quantile, tree_cpu_s
from socket_gen import alphabet, payload, rung_counts, rung_starts, schedule

HERE = os.path.dirname(os.path.abspath(__file__))

# The rate ladder as (offered records/s, share of --seconds). An
# unmeasured warm-up rung runs first: the first micro-batches pay class
# loading and code generation.
WARMUP = (6000, 4.0)
LADDER = ((6000, 0.2), (12000, 0.72), (192000, 0.08))
# Highest rung the seed sustains; freshness is reported at this rung,
# which gets the longest share of the run. It lies well below the
# pipeline's capacity, so freshness measures per-trigger cost rather
# than how close the box is to saturation.
REFERENCE_RATE = 12000
# A rung is sustained only if freshness p99 stays within this limit and
# the backlog does not grow by more than this many seconds of input
# from the first half of the rung to the second (checked when both
# halves hold a commit; on a short rung a growing backlog shows as
# freshness first).
FRESHNESS_LIMIT_S = 2.5
BACKLOG_GROWTH_S = 0.5
# The generator pauses before the overload rung, so the reference rung's
# last records land in batches of their own and the overload burst
# starts on an idle pipeline.
PAUSE_S = 1.0
FLUSH = "250 milliseconds"
DRAIN_DEADLINE_S = 30.0

# json_backfill input: records, files and the malformed share.
BACKFILL_RECORDS = 80_000
BACKFILL_FILES = 8
MALFORMED_EVERY = 25  # one record in 25 is malformed
BACKFILL_DAYS = 90
# Unmeasured drains first (class loading and JIT), then drains for
# --seconds, at least MIN_DRAINS of them.
WARMUP_DRAINS = 3
MIN_DRAINS = 3
JSON_SCHEMA = "id long, ts timestamp, user string, msg string"


# -- reading the lake back --------------------------------------------------

def committed_files(lake: str) -> dict[str, float]:
    """Data files the file sink committed, each with the time its batch
    committed: the mtime of the earliest ``_spark_metadata`` log file
    that lists it."""
    out: dict[str, float] = {}
    for log in glob.glob(os.path.join(lake, "_spark_metadata", "*")):
        if log.endswith(".tmp") or os.path.basename(log).startswith("."):
            continue
        mtime = os.path.getmtime(log)
        with open(log) as f:
            for line in f.read().splitlines()[1:]:
                path = json.loads(line)["path"]
                path = path[len("file:"):] if path.startswith("file:") else path
                out[path] = min(out.get(path, mtime), mtime)
    return out


def partition_of(path: str) -> tuple[int, int, int]:
    parts = dict(p.split("=", 1) for p in path.split(os.sep) if "=" in p)
    return int(parts["year"]), int(parts["month"]), int(parts["day"])


def lake_lines(lake: str):
    """Yield (line, commit time, (year, month, day)) for every committed
    record."""
    for path, commit in committed_files(lake).items():
        part = partition_of(path)
        with gzip.open(path, "rt", encoding="utf-8") as f:
            for line in f:
                yield line.rstrip("\n"), commit, part


def sink_stats(lake: str) -> dict:
    files = committed_files(lake)
    return {
        "sink.files_written": len(files),
        "sink.bytes_written": sum(os.path.getsize(p) for p in files),
        "sink.partition_dirs": len({os.path.dirname(p) for p in files}),
    }


def utc_date(t: float) -> tuple[int, int, int]:
    d = dt.datetime.fromtimestamp(t, dt.timezone.utc)
    return d.year, d.month, d.day


def progress_time(p) -> float:
    return dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


# -- socket_ingest -------------------------------------------------------------

def _socket_path(run_dir: str) -> str:
    """Unix socket paths are limited to 107 bytes; fall back to a path
    relative to the working directory, which the source's server thread
    shares with this process."""
    path = os.path.join(run_dir, "in.sock")
    return path if len(path) < 100 else os.path.relpath(path)


def socket_ingest(spark, ctx) -> dict:
    from s4_spark.pipeline import s4

    tr, sampler = ctx.tracer, ctx.sampler
    scale = 1 if ctx.scale == "full" else 0.05
    reference = int(REFERENCE_RATE * scale)
    warm = (int(WARMUP[0] * scale), WARMUP[1])
    rungs = [(int(rate * scale), share * ctx.seconds) for rate, share in LADDER]
    rungs.insert(-1, (0, PAUSE_S))

    sock = _socket_path(ctx.run_dir)
    cfg = s4.S4Config(
        input_path=sock,
        output_path=os.path.join(ctx.run_dir, "lake"),
        checkpoint_path=os.path.join(ctx.run_dir, "ckpt"),
        record_type="line",
        source_format="unixline",
        socket_mode="listen",
        flush_interval=FLUSH,
    )
    sampler.watch_dir = sock + ".spool"
    progress: dict[int, object] = {}

    def poll(q):
        for p in q.recentProgress:
            progress[p.batchId] = p

    def drain(q, n: int) -> None:
        """Wait until a committed batch has landed the first ``n`` records."""
        deadline = time.time() + DRAIN_DEADLINE_S
        while time.time() < deadline:
            lp = q.lastProgress
            if lp is not None and offset_index(lp.sources[0].endOffset) >= n:
                return
            time.sleep(0.2)
            poll(q)

    gen = None
    with tr.span("pipeline.s4.start"):
        q = s4.start(spark, cfg)
    try:
        with tr.span("bench.generator_start"):
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "socket_gen.py"), "--sock", sock,
                 "--seed", str(ctx.seed),
                 "--warmup", f"{warm[0]}:{warm[1]}",
                 "--rungs", ",".join(f"{rate}:{secs}" for rate, secs in rungs),
                 "--conns", str(min(2, ctx.box["cpus"]))],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            )
            sampler.exclude.add(gen.pid)
        # The ladder starts once the pipeline has landed the whole warm-up,
        # so no rung inherits the warm-up's backlog.
        with tr.span("bench.warmup"):
            warm_summary = json.loads(gen.stdout.readline())
            n_warm = warm_summary["warm_sent"]
            drain(q, n_warm)
            cpu0 = tree_cpu_s(sampler.exclude)
            gen.stdin.write("go\n")
            gen.stdin.flush()
        with tr.span("bench.ladder"):
            limit = time.time() + sum(secs for _, secs in rungs) + 90
            while gen.poll() is None and time.time() < limit:
                time.sleep(0.5)
                poll(q)
            out, _ = gen.communicate(timeout=max(1.0, limit - time.time()))
        summary = json.loads(out.strip().splitlines()[-1])
        total = summary["sent"]
        with tr.span("bench.drain"):
            drain(q, total)
        work_cpu_s = tree_cpu_s(sampler.exclude) - cpu0
    finally:
        with tr.span("StreamingQuery.stop"):
            q.stop()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
    poll(q)

    with tr.span("bench.check"):
        alpha = alphabet(ctx.seed)
        expected = {seq: int(due * 1e6) for seq, due in (
            *schedule(warm_summary["warm_start"], [warm]),
            *schedule(summary["start"], rungs, first_seq=n_warm))}
        fresh: dict[int, list[float]] = {}
        bad: set[int] = set()
        unparsed = 0
        for line, commit, part in lake_lines(cfg.output_path):
            try:
                seq_s, due_s, body = line.split(" ", 2)
                seq, due_us = int(seq_s), int(due_s)
            except ValueError:
                unparsed += 1
                continue
            fresh.setdefault(seq, []).append(commit - due_us / 1e6)
            if (expected.get(seq) != due_us or body != payload(alpha, seq)
                    or part not in (utc_date(commit), utc_date(commit - 120))):
                bad.add(seq)
        failed_seq = {s for s in expected if len(fresh.get(s, ())) != 1} | bad

        bases = rung_starts(summary["start"], rungs)
        counts = rung_counts(rungs)
        batches = sorted(progress.values(), key=lambda p: p.batchId)
        # (commit time, backlog then): the backlog is the records offered
        # so far that no committed batch has landed
        done = []
        for p in batches:
            t = progress_time(p) + p.durationMs.get("triggerExecution", 0) / 1000
            done.append((t, n_warm + due_count(t, bases, rungs)
                         - offset_index(p.sources[0].endOffset)))

        ladder, lo = [], n_warm
        for base, (rate, secs), n in zip(bases, rungs, counts):
            if rate == 0:
                continue
            seqs = range(lo, lo + n)
            lo += n
            f = [fresh[s][0] for s in seqs if s in fresh]
            inside = [b for t, b in done if base <= t < base + secs]
            early = [b for t, b in done if base <= t < base + secs / 2]
            rung = {
                "rate": rate,
                "records": n,
                "failed": sum(1 for s in seqs if s in failed_seq),
                "freshness_p50_s": quantile(f, 0.5) if f else float("inf"),
                "freshness_p99_s": quantile(f, 0.99) if f else float("inf"),
                "backlog_max": max(inside, default=0),
                # how far the rung's largest backlog exceeds the largest
                # one of its first half
                "backlog_growth": (max(inside) - max(early)
                                   if early and len(inside) > len(early) else None),
            }
            rung["sustained"] = (
                rung["failed"] == 0
                and rung["freshness_p99_s"] <= FRESHNESS_LIMIT_S
                and (rung["backlog_growth"] or 0) <= rate * BACKLOG_GROWTH_S
            )
            ladder.append(rung)
        sustained = 0
        for r in ladder:
            if not r["sustained"]:
                break
            sustained = r["rate"]
        ref = next(r for r in ladder if r["rate"] == reference)
        # Capacity: the overload burst's records over the time from its
        # first due time to the commit of the last of them.
        landed = [expected[seq] / 1e6 + fresh[seq][0]
                  for seq in range(total - counts[-1], total) if seq in fresh]
        capacity = len(landed) / (max(landed) - bases[-1]) if landed else 0.0

        data = [p for p in batches if p.numInputRows > 0 and progress_time(p) >= bases[0]]

        def phase_p50(key):
            vals = [p.durationMs.get(key, 0) for p in data]
            return quantile(vals, 0.5) if vals else 0.0

        # The source rolls its spool (rewrites the uncommitted suffix) when
        # the committed prefix reaches 65536 records; Spark calls the
        # source's commit inside the walCommit phase of the next batch.
        roll_ms, spool_base = [], 0
        for prev, p in zip(batches, batches[1:]):
            end = offset_index(prev.sources[0].endOffset)
            if end - spool_base >= 65536:
                spool_base = end
                roll_ms.append(p.durationMs.get("walCommit", 0))

        layers = {
            "sources.unix_socket.latest_offset_ms_p50": phase_p50("latestOffset"),
            "sources.unix_socket.commit_phase_ms_p50":
                quantile(roll_ms, 0.5) if roll_ms else 0.0,
            "sources.unix_socket.backlog_max_records": max(r["backlog_max"] for r in ladder),
            "sources.unix_socket.spool_bytes_max": sampler.watch_peak_bytes,
            "pipeline.s4.query_planning_ms_p50": phase_p50("queryPlanning"),
            "pipeline.s4.add_batch_ms_p50": phase_p50("addBatch"),
            "pipeline.s4.wal_commit_ms_p50": phase_p50("walCommit"),
            "pipeline.s4.batches": len(data),
            "pipeline.s4.records_per_batch_p50":
                quantile([p.numInputRows for p in data], 0.5) if data else 0,
            "bench.generator_lag_max_s": summary["lag_max_s"],
            **sink_stats(cfg.output_path),
        }
    report = {
        "sustained_rps": sustained,
        "capacity_rps": capacity,
        "freshness_p50_s": ref["freshness_p50_s"],
        "freshness_p99_s": ref["freshness_p99_s"],
        "fail_frac": len(failed_seq) / total,
        "ladder": ladder,
        "unparsed_lines": unparsed,
        "generator_lag_max_s": summary["lag_max_s"],
    }
    return {
        "attempted": total,
        "failed": len(failed_seq) + unparsed,
        "correct": not failed_seq and not unparsed,
        "e2e": {
            "work_cpu_s": work_cpu_s,
            "throughput_per_s": capacity,
            "latency_p50_s": ref["freshness_p50_s"],
            "latency_p99_s": ref["freshness_p99_s"],
        },
        "work_s": ref["freshness_p50_s"],
        "windows": [(bases[0], bases[-1] + rungs[-1][1])],
        "layers": layers,
        "report": report,
    }


def due_count(t: float, bases, rungs) -> int:
    """Records the generator was due to have sent by time ``t``."""
    n = 0
    for base, (rate, secs) in zip(bases, rungs):
        if t >= base:
            n += min(int(round(rate * secs)), int((t - base) * rate) + 1)
    return n


# -- json_backfill -------------------------------------------------------------

def write_backfill(landing: str, seed: int, n: int):
    """Seeded JSON-lines landing directory. Every MALFORMED_EVERY-th record
    is malformed, cycling through the kinds the reference drops: a
    truncated object, a top-level array, a number and a string. Valid
    records carry an event time spread over BACKFILL_DAYS days.
    Returns {line: (year, month, day)} for the valid records and the
    malformed lines."""
    rng = random.Random(seed)
    alpha = alphabet(seed)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    valid: dict[str, tuple[int, int, int]] = {}
    malformed: list[str] = []
    files = [[] for _ in range(BACKFILL_FILES)]
    for i in range(n):
        ts = t0 + rng.random() * BACKFILL_DAYS * 86400
        d = dt.datetime.fromtimestamp(int(ts), dt.timezone.utc)
        rec = json.dumps({"id": i, "ts": d.strftime("%Y-%m-%d %H:%M:%S"),
                          "user": f"u{rng.randrange(5000)}", "msg": payload(alpha, i)})
        if i % MALFORMED_EVERY == MALFORMED_EVERY - 1:
            kind = (i // MALFORMED_EVERY) % 4
            line = (rec[: len(rec) // 2], f"[{i}, \"x\"]", str(i), f"\"s{i}\"")[kind]
            malformed.append(line)
        else:
            line = rec
            valid[line] = (d.year, d.month, d.day)
        files[i % BACKFILL_FILES].append(line)
    os.makedirs(landing, exist_ok=True)
    for k, lines in enumerate(files):
        with open(os.path.join(landing, f"part-{k:03d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return valid, malformed


def json_backfill(spark, ctx) -> dict:
    from s4_spark.pipeline import s4

    tr = ctx.tracer
    n = BACKFILL_RECORDS if ctx.scale == "full" else 2000
    landing = os.path.join(ctx.run_dir, "landing")
    with tr.span("bench.input"):
        valid, malformed = write_backfill(landing, ctx.seed, n)
    malformed_set = set(malformed)

    ledger = StreamLedger(spark) if ctx.trace else None
    reps = []  # (lake, start, end); the first WARMUP_DRAINS warm the pipeline
    cpu = []  # CPU seconds of each drain
    deadline = None
    while len(reps) < WARMUP_DRAINS + MIN_DRAINS or time.time() < deadline:
        if len(reps) == WARMUP_DRAINS:
            deadline = time.time() + ctx.seconds
        k = len(reps)
        cfg = s4.S4Config(
            input_path=landing,
            output_path=os.path.join(ctx.run_dir, f"lake{k}"),
            checkpoint_path=os.path.join(ctx.run_dir, f"ckpt{k}"),
            record_type="json",
            json_schema=JSON_SCHEMA,
            event_time_col="ts",
        )
        cpu0 = tree_cpu_s()
        with tr.span("pipeline.s4.run_once") as s:
            s4.run_once(spark, cfg)
        cpu.append(tree_cpu_s() - cpu0)
        reps.append((cfg.output_path, s.start, s.end))
        if ledger and k == WARMUP_DRAINS - 1:
            warm_batches = ledger.snapshot()[1]

    with tr.span("bench.check"):
        failed = 0
        latencies, rates, walls = [], [], []
        dropped = 0
        for k, (lake, start, end) in enumerate(reps):
            seen: dict[str, int] = {}
            landed_malformed = 0
            rep_lat = []
            for line, commit, part in lake_lines(lake):
                if line in malformed_set:
                    landed_malformed += 1
                    continue
                seen[line] = seen.get(line, 0) + 1
                if valid.get(line) != part:
                    failed += 1  # unknown line or filed under the wrong day
                rep_lat.append(commit - start)
            failed += sum(1 for line in valid if seen.get(line, 0) != 1)
            failed += landed_malformed
            if k < WARMUP_DRAINS:
                continue
            dropped = len(malformed) - landed_malformed
            latencies.extend(rep_lat)
            walls.append(end - start)
            rates.append(len(valid) / (end - start))
        layers = {}
        if ledger:
            # progress of the measured drains only; reports arrive
            # asynchronously, so wait for one per measured drain
            limit = time.time() + 10
            while ledger.snapshot()[1] < warm_batches + len(walls) and time.time() < limit:
                time.sleep(0.1)
            ledger.remove(spark)
            data = [p for p in ledger.progress[warm_batches:] if p[4] > 0]
            layers.update({
                "pipeline.s4.query_planning_ms_p50": quantile([p[5].get("queryPlanning", 0) for p in data], 0.5),
                "pipeline.s4.add_batch_ms_p50": quantile([p[5].get("addBatch", 0) for p in data], 0.5),
                "pipeline.s4.wal_commit_ms_p50": quantile([p[5].get("walCommit", 0) for p in data], 0.5),
                "pipeline.s4.batches": len(data) / len(walls),
                "pipeline.s4.records_per_batch_p50": quantile([p[4] for p in data], 0.5),
            })
        layers.update({
            "pipeline.s4.run_once_s": median(walls),
            "pipeline.s4.malformed_dropped": dropped,
            **sink_stats(reps[-1][0]),
        })
    drain_rps = median(rates)
    return {
        "attempted": n * len(reps),
        "failed": failed,
        "correct": failed == 0 and dropped == len(malformed),
        "e2e": {
            "work_cpu_s": median(cpu[WARMUP_DRAINS:]),
            "throughput_per_s": drain_rps,
            "latency_p50_s": quantile(latencies, 0.5),
            "latency_p99_s": quantile(latencies, 0.99),
        },
        "work_s": median(walls),
        "windows": [(s, e) for _, s, e in reps[WARMUP_DRAINS:]],
        "layers": layers,
        "report": {
            "drain_rps": drain_rps,
            "fail_frac": failed / (n * len(reps)),
            "drain_walls_s": [round(w, 3) for w in walls],
            "malformed_generated": len(malformed),
        },
    }

