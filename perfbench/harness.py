"""Measurement plumbing shared by the workloads: box stamp, span tracer,
RSS sampler and process-tree CPU time, warm session set-up, Spark
event-log and streaming-listener ledgers.

Nothing here changes the program under test. The session is built with
``s4_spark.session.get_spark``; the only confs the benchmark adds keep
Spark's scratch files inside the run directory and, in a traced run,
turn on the event log.
"""

from __future__ import annotations

import gc
import json
import math
import os
import re
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- statistics ---------------------------------------------------------

def quantile(values, q: float) -> float:
    """Nearest-rank quantile of a non-empty sample."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def median(values) -> float:
    v = sorted(values)
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def union_seconds(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, windows):
    """Intersections of ``intervals`` with any of ``windows``."""
    out = []
    for s, e in intervals:
        for ws, we in windows:
            lo, hi = max(s, ws), min(e, we)
            if hi > lo:
                out.append((lo, hi))
    return out


# -- the box ------------------------------------------------------------

def box_stamp() -> dict:
    """cpus (the affinity mask, as ``nproc`` counts them) and MemTotal.
    Results are only comparable between runs with equal ``cpus``."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {"cpus": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


# -- spans ----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. A disabled tracer still times its spans — the workloads
    read their own timings from it — but keeps nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def top_level_seconds(self) -> float:
        return union_seconds(
            (s["start"], s["end"]) for s in self.spans if s["parent"] is None
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.start = self.end = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def __enter__(self):
        self.start = time.time()
        if self.t.enabled:
            self.id = len(self.t.spans)
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append({"id": self.id, "name": self.name, "start": self.start,
                                 "end": None, "parent": parent, "run": self.t.run_id})
            self.t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.t.enabled:
            self.t._stack.pop()
            self.t.spans[self.id]["end"] = self.end
        return False


# -- memory -------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def _descendants(exclude=()) -> list[int]:
    """Every descendant of this process, skipping ``exclude`` and their
    subtrees."""
    kids = _children_map()
    out, todo = [], [c for c in kids.get(os.getpid(), []) if c not in exclude]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c in kids.get(pid, []) if c not in exclude)
    return out


def tree_cpu_s(exclude=()) -> float:
    """CPU seconds (user + system) spent so far by this process's
    descendants — the Spark JVM and its Python workers — including their
    exited children, which the kernel folds into their parents. CPU time
    does not count the time a process waits for a core, so it does not
    grow when other tenants of the host take the cpus."""
    total = 0
    for pid in _descendants(exclude):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


class RssSampler:
    """Peak of the RSS summed over every descendant of this process (the
    Spark JVM and its Python workers), sampled from /proc. Processes in
    ``exclude`` (the load generator) and their descendants are skipped,
    as is this process itself, which holds only benchmark state. Also
    samples the byte size of ``watch_dir`` when set (the source spool)."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.watch_dir: str | None = None
        self.peak_bytes = 0
        self.watch_peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        total = sum(_rss_bytes(pid) for pid in _descendants(self.exclude))
        self.peak_bytes = max(self.peak_bytes, total)
        if self.watch_dir and os.path.isdir(self.watch_dir):
            size = 0
            for name in os.listdir(self.watch_dir):
                try:
                    size += os.path.getsize(os.path.join(self.watch_dir, name))
                except OSError:
                    pass
            self.watch_peak_bytes = max(self.watch_peak_bytes, size)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after full collections: what the workload
    left reachable (memory-sink tables, stopped queries' state, caches)
    on top of the warm session's own footprint."""
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.Runtime.getRuntime()
    # Release the Python handles of dead JVM objects first. Spark's
    # ContextCleaner frees broadcasts, shuffles and checkpoint blocks only
    # after a GC has cleared their references, so collect until the
    # figure stops falling.
    gc.collect()
    used = float("inf")
    for _ in range(10):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        now = (runtime.totalMemory() - runtime.freeMemory()) / 2**20
        if now > used - 1:
            return min(now, used)
        used = now
    return used


# -- session ------------------------------------------------------------

def start_session(run_dir: str, cpus: int, tracer: Tracer, event_log_dir: str | None):
    """Process start → warm session: ``get_spark``, ``sources.register``
    and a warm-up job that touches the shuffle and the noop write path.
    Returns the session and the three phase timings."""
    with tracer.span("session.get_spark") as s_get:
        from s4_spark.session import get_spark
        import s4_spark.sources as sources

        conf = {
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata file under /tmp: the run writes only inside
            # its run directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    with tracer.span("session.register") as s_reg:
        sources.register(spark)
    with tracer.span("session.warmup") as s_warm:
        (spark.range(200_000).selectExpr("id % 97 AS k", "id AS v")
         .groupBy("k").sum("v").write.mode("overwrite").format("noop").save())
    return spark, {
        "session.get_spark_s": s_get.seconds,
        "session.register_s": s_reg.seconds,
        "session.warmup_s": s_warm.seconds,
    }


# -- Spark's own ledgers ----------------------------------------------------

def offset_index(offset) -> int:
    """``{"index": N}`` offsets of the Python sources, as dict or text."""
    if isinstance(offset, dict):
        return int(offset["index"])
    return int(re.search(r"\d+", str(offset)).group())


class StreamLedger:
    """A ``StreamingQueryListener`` that counts queries started and
    terminated and keeps every progress report's batch timing and
    state-store commit time."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        ledger = self
        self.started = 0
        # (query id, batch id, trigger s, state-commit s, input rows, durationMs)
        self.progress: list[tuple] = []
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with ledger._lock:
                    ledger.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                trigger_ms = p.durationMs.get("triggerExecution", 0)
                commit_ms = sum(op.commitTimeMs for op in p.stateOperators)
                with ledger._lock:
                    ledger.progress.append((str(p.id), p.batchId, trigger_ms / 1000,
                                            commit_ms / 1000, p.numInputRows,
                                            dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def remove(self, spark) -> None:
        spark.streams.removeListener(self.listener)

    def snapshot(self) -> tuple[int, int, float, float]:
        """(queries started, batches, trigger seconds, state-commit seconds)."""
        with self._lock:
            return (self.started, len(self.progress),
                    sum(p[2] for p in self.progress), sum(p[3] for p in self.progress))


def parse_event_log(log_dir: str, windows) -> dict:
    """Engine totals from Spark's JSON event log. ``driver_gap_s`` is the
    part of the timed ``windows`` during which no stage was running."""
    jobs = stages = 0
    run_ms = gc_ms = 0
    cpu_ns = shuffle = spill = 0
    stage_iv = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    stages += 1
                    info = ev["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        stage_iv.append((info["Submission Time"] / 1000,
                                         info["Completion Time"] / 1000))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    busy = union_seconds(clip(stage_iv, windows))
    wall = union_seconds(windows)
    return {
        "spark.n_jobs": jobs,
        "spark.n_stages": stages,
        "spark.exec_run_s": run_ms / 1000,
        "spark.exec_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1000,
        "spark.shuffle_bytes": shuffle,
        "spark.spill_bytes": spill,
        "spark.driver_gap_s": max(0.0, wall - busy),
    }
