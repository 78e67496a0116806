"""Streaming runner and test rigs.

:func:`running` / :func:`drain` are the one way the package runs a
stream to completion: scope an optional session conf, start the query
with an availableNow trigger (:func:`drain` sets it; callers never do),
wait for it to terminate, always ``stop()`` it, and hand back its
progress. On top of that:

- :func:`run_to_memory` / :func:`run_to_parquet` — batch-equivalence
  sinks (SURVEY.md §2-B methodology: run the streaming query with
  availableNow over static data, compare with batch SQL);
- :func:`staged_streams` — every phase of a watermark rig staged up
  front, one file per stream per phase and an empty tick file after
  each, read one file per micro-batch, so availableNow drains the
  phases as deterministic batch boundaries;
- :func:`replay` — :func:`staged_streams` drained into a memory sink,
  the N-stream watermark replay (the one category no batch oracle can
  express).
"""

from __future__ import annotations

import itertools
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from s4_spark.catalog import normalize_events
from s4_spark.scratch import scratch
from s4_spark.session import scoped_conf

_counter = itertools.count()

#: Session conf for :func:`replay` runs. Replay fixtures are bounded by
#: construction (each phase is one staged file of ~dozens of rows),
#: while every state partition costs a RocksDB open/commit PER STORE PER
#: MICRO-BATCH — a stream-stream join keeps 4 stores per partition, so
#: the session default (8) paid 8 x 4 x batches RocksDB cycles to join
#: ~30 rows (measured sf0.01, min-of-2: q165 10.2 s -> 7.8 s at 4). The
#: rig's input is rig-sized at ANY corpus scale, so this is a property
#: of the rig, not the box; other streams keep session defaults.
REPLAY_CONF = {"spark.sql.shuffle.partitions": "4"}

#: Run conf for the transformWithState and changelog-checkpoint entries:
#: they REQUIRE the RocksDB state store, and a vanilla session does not
#: default to it. A query fixes its state-store provider when it starts
#: and records it in the checkpoint, so scoping the conf to the run is
#: enough — later readers of that checkpoint get the same provider.
ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}


@contextmanager
def running(
    writer: DataStreamWriter, conf: dict | None = None, table: str | None = None
):
    """Start ``writer`` (``toTable(table)`` when a table is named) with
    ``conf`` scoped to the run (:func:`~s4_spark.session.scoped_conf`),
    yield the live query, and always stop it."""
    with scoped_conf(writer._spark, conf or {}):
        q = writer.toTable(table) if table else writer.start()
        try:
            yield q
        finally:
            q.stop()


def progress_of(q: StreamingQuery) -> list:
    """The query's non-null progress reports, oldest first."""
    return [p for p in q.recentProgress if p is not None]


def drain(
    writer: DataStreamWriter, conf: dict | None = None, table: str | None = None
) -> list:
    """Run ``writer`` with an availableNow trigger to completion under
    :func:`running` and return its progress."""
    with running(writer.trigger(availableNow=True), conf, table) as q:
        q.awaitTermination()
        return progress_of(q)


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ntz_as_utc_instant(col: str):
    """TIMESTAMP_NTZ wall-clock -> TIMESTAMP (LTZ) instant, reading the
    wall clock AS UTC via pure integer arithmetic — never routes through
    the session timezone, so it is deterministic on any session.

    Needed because Structured Streaming event time (withWatermark, and
    therefore watermarked windows/joins) requires TIMESTAMP, not NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    return F.timestamp_micros(
        F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {col})")
    )


def instant_as_utc_ntz(col: str):
    """Inverse of :func:`ntz_as_utc_instant`: TIMESTAMP (LTZ) instant ->
    the UTC wall clock as TIMESTAMP_NTZ, again via integer arithmetic
    (unix_micros is timezone-independent on LTZ). Streaming queries emit
    their window bounds through this so collected values match the DuckDB
    oracle's naive timestamps on ANY session timezone."""
    return F.expr(f"timestampadd(MICROSECOND, unix_micros({col}), {_EPOCH_NTZ})")


def with_instant_ts(df: DataFrame) -> DataFrame:
    """``df`` with an NTZ ``ts`` read as a UTC instant
    (:func:`ntz_as_utc_instant`), the type event time needs; a ``ts`` of
    any other type is left as it is."""
    if df.schema["ts"].dataType.typeName() == "timestamp_ntz":
        return df.withColumn("ts", ntz_as_utc_instant("ts"))
    return df


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a streaming DataFrame (file source over a landing dir).

    The stream schema is taken from a batch scan of the landing dir (one
    footer read), NOT hardcoded — the generator has stored events.ts as
    parquet TIMESTAMP(NANOS) and as native NTZ across rounds, and a
    forced schema would break on the next flip. Normalization is then
    delegated to catalog.normalize_events() so the streaming path gets
    the SAME type-adaptive conversion as the batch path; the normalized
    NTZ wall clock is pinned to a UTC instant because streaming event
    time requires TIMESTAMP (LTZ)."""
    from s4_spark.catalog import read_parquet_adaptive
    from s4_spark.queries.scans import events_landing_dir

    landing = events_landing_dir(sf_dir)
    # adaptive probe: flips the nanos legacy conf only if the footer
    # demands it, so nothing leaks on the (current) NTZ-typed data
    scanned_schema = read_parquet_adaptive(spark, landing).schema
    raw = (
        spark.readStream.schema(scanned_schema)
        .format("parquet")
        .load(landing)
    )
    return with_instant_ts(normalize_events(raw))


def drain_to_memory(
    df: DataFrame,
    mode: str = "complete",
    tag: str = "q",
    checkpoint: str | None = None,
    conf: dict | None = None,
) -> tuple[DataFrame, list]:
    """:func:`drain` ``df`` into a memory sink and return the sink
    contents as a batch DataFrame plus the run's progress. The sink's
    temp view is dropped before returning — the frame keeps the sink's
    rows after that — and so is the checkpoint, unless the caller
    passed one in to read state from."""
    spark = df.sparkSession
    name = f"s4_mem_{tag}_{next(_counter)}"
    ckpt = checkpoint or scratch(f"ckpt_{name}")
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
    )
    try:
        progress = drain(writer, conf)
        return spark.table(name), progress
    finally:
        spark.catalog.dropTempView(name)
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_to_memory(
    df: DataFrame,
    mode: str = "complete",
    tag: str = "q",
    checkpoint: str | None = None,
    conf: dict | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with availableNow and
    return the sink contents as a batch DataFrame."""
    return drain_to_memory(df, mode, tag, checkpoint, conf=conf)[0]


COMMIT_MARKER = "_S4_COMMIT"


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path constructor) for ``path``'s scheme, resolved
    through the session's Hadoop configuration — the local filesystem
    here, s3a/hdfs/abfs on a cluster with the SAME calling code. This is
    the abstraction the commit protocol below routes through so the
    exactly-once story is not POSIX-only (ADVICE r11 / VERDICT r12)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def idempotent_batch_sink(out: str):
    """foreachBatch sink closure that lands each micro-batch under a
    batchId-keyed directory, exactly once.

    A plain ``mode("append")`` foreachBatch sink is NOT idempotent: a
    batch retried after a partial parquet append duplicates rows, and an
    ``isEmpty()`` probe before the write executes the batch plan twice.

    Commit protocol (Hadoop FileSystem API, round 13 — replaces the
    POSIX-only ``os.replace`` directory rename of r10-r12): each batch
    writes its parquet files directly into ``b{batchId}`` and then PUTs
    a zero-byte ``b{batchId}/_S4_COMMIT`` marker through the
    ``FileSystem`` handle for ``out``'s scheme. Visibility is gated on
    the marker, never on the data files, so the protocol holds on
    object stores where directory renames are non-atomic copy+delete
    loops but a single-object create IS atomic (the reference's sink is
    S3, /root/reference/lake/lake.go:65-90). A retry of a committed
    batch is a no-op (marker exists); a retry after a crash overwrites
    the partial dir and re-creates the marker; a query stopped between
    the parquet job commit and the marker PUT leaves an INVISIBLE
    uncommitted dir that the next attempt overwrites. The underscore
    prefix keeps the marker hidden from Spark's file-index listing, so
    it never collides with the parquet read. Empty batches land an
    empty-but-valid parquet dir; the pinned read-back schema absorbs
    them."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        fs, Path = hadoop_fs(batch_df.sparkSession, out)
        bdir = f"{out}/b{batch_id}"
        marker = Path(f"{bdir}/{COMMIT_MARKER}")
        if fs.exists(marker):
            return  # batch already fully committed by a previous attempt
        batch_df.write.mode("overwrite").parquet(bdir)
        fs.create(marker, True).close()

    return sink


def read_batched_parquet(spark: SparkSession, out: str, schema) -> DataFrame:
    """Read back everything an :func:`idempotent_batch_sink` landed.

    Only COMMITTED batch dirs (``b{N}`` carrying the zero-byte
    ``_S4_COMMIT`` marker) are read: a query stopped between the
    parquet job commit and the marker PUT — reachable via q252's
    deliberate mid-cleanup ``q.stop()`` — leaves a marker-less dir, and
    surfacing those rows is exactly the duplication the protocol
    exists to prevent (ADVICE r11). Listing goes through the Hadoop
    FileSystem API like the sink, so sink and read-back always agree
    on one namespace whatever the scheme. The explicit schema keeps a
    zero-emission run an empty frame rather than
    UNABLE_TO_INFER_SCHEMA."""
    fs, Path = hadoop_fs(spark, out)
    root = Path(out)
    committed = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if (
                st.isDirectory()
                and name.startswith("b")
                and fs.exists(Path(f"{st.getPath()}/{COMMIT_MARKER}"))
            ):
                committed.append(str(st.getPath()))
    if not committed:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(*sorted(committed))
    )


def run_to_parquet(
    df: DataFrame, mode: str = "update", tag: str = "q", conf: dict | None = None
) -> DataFrame:
    """Run a streaming DataFrame to completion with availableNow and
    return the accumulated emissions, like :func:`run_to_memory`, but
    through a parquet foreachBatch sink instead of the memory sink.

    The memory sink serializes EVERY emitted row back to the driver —
    fine for the aggregate-shaped rigs, but a rig whose output is
    proportional to its input dies at scale on the driver, not in the
    plan (the round-10 ×1000 probe hit spark.driver.maxResultSize on
    q241's ~30M session rows after the heap fix). This sink keeps
    emissions executor-side, which is the only sink shape that survives
    output ∝ input; update-mode emission sets are identical between the
    two sinks (the memory sink also appends each batch's rows).

    foreachBatch rather than the parquet file sink because the file
    sink is append-only and the stateful rigs emit in update mode. The
    read-back pins the schema explicitly so a zero-emission run returns
    an empty frame instead of UNABLE_TO_INFER_SCHEMA (the q252 lesson).
    The checkpoint is removed once the drain returns; the sink dir stays,
    because the returned frame reads it lazily.
    """
    name = f"s4_pq_{tag}_{next(_counter)}"
    out = scratch(f"sink_{name}")
    ckpt = scratch(f"ckpt_{name}")
    os.makedirs(out, exist_ok=True)
    try:
        drain(
            df.writeStream.foreachBatch(idempotent_batch_sink(out))
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt),
            conf=conf,
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return read_batched_parquet(df.sparkSession, out, df.schema)


def stage_file(
    df: DataFrame, landing: str, fname: str, mtime: int | None = None
) -> None:
    """Land ``df`` in ``landing`` as ONE flat parquet file ``fname`` —
    one micro-batch under ``maxFilesPerTrigger=1``. The file is written
    beside the landing dir and renamed in, so the file source never lists
    a partial file. ``mtime`` pins FileStreamSource's processing order
    when several files are staged before the query starts."""
    tmp = scratch(f"stage_{os.path.basename(landing)}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
    )
    dest = os.path.join(landing, fname)
    os.replace(os.path.join(tmp, part), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def staged_streams(
    spark: SparkSession, phases: list[tuple[DataFrame, ...]], tag: str
) -> list[DataFrame]:
    """Stage every phase before any query starts and return one
    ``maxFilesPerTrigger=1`` stream per landing dir. Each phase holds
    one DataFrame per stream and lands as ONE file per stream, followed
    by an empty tick file; mtimes follow the phase order, so an
    availableNow drain reads phase, tick, phase, tick, ... one file per
    stream per micro-batch.

    The tick is the batch boundary watermark semantics need. Spark
    drops a late row by the watermark of the batch BEFORE the one that
    reads it, and it only closes a window in a batch after the one that
    moved the watermark past it. So the rows of phase k+1 are judged
    late against the watermark phase k set, and after the last phase
    its non-late windows close. With two streams this makes
    stream-stream join semantics reproducible (outer-join null emission
    depends on the MIN of the two watermarks)."""
    landings = [scratch(f"{tag}_landing{i}") for i in range(len(phases[0]))]
    for d in landings:
        os.makedirs(d, exist_ok=True)
    for k, frames in enumerate(phases):
        mtime = 1_000_000 + 2 * k  # the file source lists oldest first
        for df, landing in zip(frames, landings):
            stage_file(df, landing, f"p{k:03d}.parquet", mtime)
            stage_file(df.limit(0), landing, f"p{k:03d}_tick.parquet", mtime + 1)
    return [
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        for df, landing in zip(phases[0], landings)
    ]


def replay(
    spark: SparkSession,
    phases: list[tuple[DataFrame, ...]],
    build_query,
    tag: str = "replay",
) -> tuple[DataFrame, list]:
    """Deterministic watermark replay over N streams: the phases are
    staged by :func:`staged_streams`, ``build_query(*streams)`` returns
    the query over them, and it is drained in append mode into a memory
    sink, so the output shows exactly which windows closed and which
    late rows were dropped. Returns the sink contents and the run's
    progress."""
    streams = staged_streams(spark, phases, tag)
    return drain_to_memory(build_query(*streams), "append", tag, conf=REPLAY_CONF)
