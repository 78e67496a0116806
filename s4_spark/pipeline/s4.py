"""S4-parity pipeline on Structured Streaming.

The reference (findcoo/S4) is one dataflow: unix-socket line records →
durable local buffer (append-file or LevelDB) → ticker-driven drain →
gzip → time-partitioned S3 object (SURVEY.md §0). This module reproduces
that pipeline's semantics idiomatically:

| reference                                  | here |
|--------------------------------------------|------|
| unix socket source (input/unix.go:19-82)   | `unixline` custom DataSource (connect = client A22, listen = server A23 fan-in); file/text stream over a landing dir (the "S3 source" north star) |
| line framing (input/unix.go:91-103)        | readStream.text lineSep="\n" |
| JSON validation, drop malformed (river/jsonr.go:99-116) | from_json(schema) + isNotNull filter (DROPMALFORMED semantics) |
| durable buffer (river/liner.go, jsonr.go)  | source WAL + checkpointLocation (upgrades at-most-once → exactly-once, fixes Appendix-B races) |
| 5-min ticker (river/river.go:52-59, main.go:44-49) | trigger(processingTime="5 minutes") |
| gzip corpus (lake/lake.go:66-73)           | writer option compression=gzip |
| year=/month=/day= S3 key (lake/lake.go:75-81) | partitionBy("year","month","day"), UTC (fixes local-clock quirk) |
| console sink (lake/lake.go:42-45)          | format("console") |
| flush-on-cancel (river/river.go:57)        | graceful query.stop() — last micro-batch commits |

Deliberately NOT replicated (reference quirks, SURVEY.md Appendix B):
at-most-once drops, lexicographic batch reordering, same-minute S3 key
overwrites, the LineRiver truncate race.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from s4_spark.streaming.rigs import drain

# Mirrors river.Config (/root/reference/river/river.go:22-27) +
# the CLI flag surface (/root/reference/main.go:20-57).
@dataclass
class S4Config:
    input_path: str  # landing dir, or socket path for unixline
    output_path: str  # sink dir / s3a:// URI ("s3Path")
    checkpoint_path: str  # "bufferPath" analog — durable progress
    record_type: str = "line"  # "line" | "json"  (--type)
    flush_interval: str = "5 minutes"  # --flush (ticker default, main.go:44-49)
    sink: str = "lake"  # "lake" (gzip text, partitioned) | "console"
    json_schema: str | None = None  # schema for json mode (None -> permissive map)
    source_format: str = "text"  # "text" | "unixline"
    socket_mode: str = "connect"  # unixline only: "connect" (A22 client) |
    # "listen" (A23 server — bind + fan-in of N producer connections)
    event_time_col: str | None = None  # partition by this instead of arrival time
    # A13/A18 literal batch shape: coalesce(1) in front of the same file
    # sink, so each trigger lands one gzip object per partition dir
    single_object_per_flush: bool = False


def read_records(spark: SparkSession, cfg: S4Config) -> DataFrame:
    """A1/A2/A4: attach the record stream with newline framing.

    ``unixline`` is the direct reference parity path: the custom unix-
    domain-socket DataSource with the durable spool (exactly-once), in
    connect mode (`s4 client`, main.go:106-122) or listen mode
    (`s4 server`, main.go:124-140 — the source binds and fans in every
    producer connection). Any other ``source_format`` than ``"text"``
    or ``"unixline"`` raises ``ValueError``."""
    if cfg.source_format == "unixline":
        import s4_spark.sources as sources

        sources.register(spark)
        return (
            spark.readStream.format("s4_unixline")
            .option("path", cfg.input_path)
            .option("mode", cfg.socket_mode)
            .load()
        )
    if cfg.source_format != "text":
        raise ValueError(
            f"source_format must be 'text' or 'unixline', got {cfg.source_format!r}"
        )
    return spark.readStream.format("text").option("lineSep", "\n").load(cfg.input_path)


def validate_json(records: DataFrame, cfg: S4Config) -> DataFrame:
    """A8: JSON-object validation with silent drop of malformed records
    (reference drops via panic/recover, river/jsonr.go:100-108; here the
    drop is an explicit filter on parse failure). Non-object top-level
    JSON (arrays, scalars) fails the struct/map parse, matching the
    reference's map[string]interface{} unmarshal target.

    Always validates against map<string,string>: a struct schema would
    NOT work — PERMISSIVE from_json yields a null-FIELD row (not a null
    struct) for malformed input, silently keeping bad records.

    The parsed map is KEPT (``__parsed``) so the partitioning stage can
    extract the event-time field from it instead of running a second
    full ``from_json`` over every record (r13, guide §4: JSON parse is
    the pipeline's dominant per-row CPU; one parse, not two). Sinks
    select the payload columns explicitly, so the helper column never
    reaches storage."""
    parsed = records.withColumn(
        "__parsed", F.from_json("value", "map<string,string>")
    )
    return parsed.filter(F.col("__parsed").isNotNull())


def with_time_partitions(df: DataFrame, cfg: S4Config) -> DataFrame:
    """A17: year=/month=/day= keys — from a field of the (JSON) record
    when ``event_time_col`` is configured, else processing time (the
    reference uses the local wall clock, lake/lake.go:79; we use UTC and
    prefer event time so the layout is reproducible and prunable).
    Event-time keys spread a batch over many day dirs; ``lake_frame``
    clusters its rows so each dir gets one object per batch.

    Processing time is ``current_date``, not ``current_timestamp``: the
    keys are the same, but Spark inlines the batch's value into the
    generated code as a literal. A timestamp differs every trigger, so
    each batch would compile new classes; a date stays the same all day,
    so the codegen cache hits."""
    if cfg.event_time_col:
        if cfg.record_type != "json":
            raise ValueError('event_time_col requires record_type="json"')
        if not cfg.json_schema:
            raise ValueError("event_time_col requires json_schema")
        # the validation stage already parsed the record into a string
        # map; a typed extraction of the one needed field replaces a
        # second full-schema from_json per record. try_element_at +
        # try_cast mirror from_json's null-on-missing /
        # null-on-unparseable semantics exactly (a plain [] access or
        # cast would THROW under ANSI mode where from_json yields NULL).
        field_type = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromDDL(cfg.json_schema).fields
        }[cfg.event_time_col]
        ts = F.try_element_at(
            F.col("__parsed"), F.lit(cfg.event_time_col)
        ).try_cast(field_type)
    else:
        ts = F.current_date()
    return (
        df.withColumn("year", F.year(ts))
        .withColumn("month", F.month(ts))
        .withColumn("day", F.dayofmonth(ts))
    )


def build_pipeline(spark: SparkSession, cfg: S4Config) -> DataFrame:
    records = read_records(spark, cfg)
    if cfg.record_type == "json":
        records = validate_json(records, cfg)
    return records


def lake_frame(df: DataFrame, cfg: S4Config) -> DataFrame:
    """A17/A18: the frame the lake sink writes — exactly one data column
    ("value") plus the year=/month=/day= keys, one gzip'd line file per
    task per partition dir, committed by the sink's _spark_metadata log.

    Under event time a batch spans many days, so its rows are hashed on
    the keys first: each day dir gets ONE object per batch, written by
    one task (the reference's one object per flush per key,
    lake/lake.go:65-90), and the days spread over the shuffle
    partitions. Processing-time keys put a whole batch in one dir, so
    that path stays shuffle-free; compat mode writes every dir from one
    task."""
    df = with_time_partitions(df, cfg).select("value", "year", "month", "day")
    if cfg.single_object_per_flush:
        return df.coalesce(1)
    if cfg.event_time_col:
        return df.repartition("year", "month", "day")
    return df


def _writer(spark: SparkSession, cfg: S4Config) -> DataStreamWriter:
    """Source → validation → sink wiring, without a trigger. The lake
    sink writes ``lake_frame``: under event time, one object per day dir
    per micro-batch."""
    df = build_pipeline(spark, cfg)
    if cfg.sink == "console":
        # the validation helper column must not reach the console
        writer = df.drop("__parsed").writeStream.format("console")
    else:
        writer = (
            lake_frame(df, cfg).writeStream.format("text")
            .option("path", cfg.output_path)
            .option("compression", "gzip")
            .partitionBy("year", "month", "day")
        )
    return writer.option("checkpointLocation", cfg.checkpoint_path)


def start(spark: SparkSession, cfg: S4Config) -> StreamingQuery:
    """Start the pipeline on the flush ticker and hand back the live
    query (the analog of the reference's `s4 client|server` wiring,
    main.go:106-140); the caller owns its stop()."""
    return _writer(spark, cfg).trigger(processingTime=cfg.flush_interval).start()


def run_once(spark: SparkSession, cfg: S4Config) -> None:
    """Drain everything currently in the landing dir and stop (test /
    backfill mode; also how the e2e parity check runs the pipeline)."""
    drain(_writer(spark, cfg))
