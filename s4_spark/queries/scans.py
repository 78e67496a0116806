"""B1 — scans / sources / sinks (SURVEY.md §2-B1 Q001-Q008 plus the
B12 extensions Q009/Q019/Q107/Q142/Q152-Q154/Q164: ORC/XML/binaryFile,
unix-socket source, Z-order, compaction, schema evolution, corrupt-
record quarantine).

Round-trip queries (csv/json/text/partitioned-parquet/gzip) write to a
scratch dir and read back through the engine; the oracle validates against
the original table, so the check covers the full write→read cycle.

S4 parity notes: gzip sink = A16 (/root/reference/lake/lake.go:66-73),
Hive-style date partitioning = A17 (lake.go:75-81), text line records =
A4 framing (input/unix.go:91-103), console sink = A19 (lake.go:42-45).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from s4_spark.queries.helpers import csum, dsum, ordered_small, sql_dsum, t
from s4_spark.queries.registry import query
from s4_spark.scratch import scratch, scratch_root
from s4_spark.streaming.rigs import drain, events_stream, run_to_memory


def events_landing_dir(sf_dir: str) -> str:
    """The streaming file source requires a directory; stage the events
    parquet into a per-SF landing dir (the batch/stream shared layout the
    north star describes: S3 prefix as a stream)."""
    path = os.path.join(scratch_root(), f"landing_{os.path.basename(sf_dir)}")
    os.makedirs(path, exist_ok=True)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        # directory-of-part-files layout (scaled probes, real lakes):
        # flatten the parts into the landing root — the streaming file
        # source lists one level, exactly like an S3 prefix. Marker is
        # NOT .parquet-suffixed (a zero-byte .parquet would be listed
        # by the source and break footer reads).
        marker = os.path.join(path, ".events_staged")
        if not os.path.exists(marker):
            for i, part in enumerate(sorted(os.listdir(src))):
                if part.endswith(".parquet"):
                    shutil.copyfile(
                        os.path.join(src, part),
                        os.path.join(path, f"events_{i:05d}.parquet"),
                    )
            open(marker, "w").close()
    else:
        dst = os.path.join(path, "events.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)
    return path


@query(
    "q001_parquet_scan",
    oracle="""
    SELECT count(*) AS n, {s} AS sum_qty FROM lineitem
    """.format(s=sql_dsum("l_quantity")),
    section="B1-scans",
)
def q001(spark, sf_dir):
    """Vectorized parquet scan with aggregate pushdown-friendly shape."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "q002_csv_roundtrip",
    oracle="""
    SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
    FROM lineitem
    """,
    section="B1-scans",
)
def q002(spark, sf_dir):
    """lineitem → csv (header) → schema-ful read → agg; csv scan is
    splittable per file so parallelism survives the round trip."""
    path = scratch(f"csv_{os.path.basename(sf_dir)}")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    li.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema("l_orderkey long, l_quantity double").option(
        "header", "true"
    ).csv(path)
    return back.agg(F.count("*").alias("n"), csum("l_orderkey").alias("sum_ok"))


@query(
    "q003_jsonl_roundtrip",
    oracle="""
    SELECT count(*) AS n, count(DISTINCT event_type) AS n_types
    FROM events
    """,
    section="B1-scans",
)
def q003(spark, sf_dir):
    """events → json-lines → read with explicit schema (no inference pass —
    at 100 TB schema inference is a full extra scan, never do it)."""
    path = scratch(f"jsonl_{os.path.basename(sf_dir)}")
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema("event_id long, event_type string, user_id long").json(path)
    return back.agg(
        F.count("*").alias("n"), F.countDistinct("event_type").alias("n_types")
    )


@query(
    "q004_text_scan",
    oracle="""
    SELECT count(*) AS n, min(text) AS min_line, max(text) AS max_line
    FROM documents
    """,
    section="B1-scans",
)
def q004(spark, sf_dir):
    """S4 line-record parity (A4): newline-framed opaque text lines."""
    path = scratch(f"text_{os.path.basename(sf_dir)}")
    docs = t(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_line"),
        F.max("value").alias("max_line"),
    )


@query(
    "q005_partitioned_parquet_sink",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n
    FROM orders GROUP BY o_year ORDER BY o_year
    """,
    section="B1-scans",
)
def q005(spark, sf_dir):
    """Hive-style partitioned write (A17 parity: year=/...) + partition-
    pruned re-read; the read groups by the partition column only, so the
    scan lists directories, it does not decode row data for the key."""
    path = scratch(f"part_{os.path.basename(sf_dir)}")
    o = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path)
    # bounded result (one row per order year)
    return ordered_small(
        back.groupBy("o_year").agg(F.count("*").alias("n")), "o_year"
    )


@query(
    "q006_gzip_text_sink",
    oracle="""
    SELECT count(*) AS n, min(text) AS min_v, max(text) AS max_v
    FROM documents
    """,
    section="B1-scans",
)
def q006(spark, sf_dir):
    """Gzip-compressed text sink (A16 parity) and re-read."""
    path = scratch(f"gz_{os.path.basename(sf_dir)}")
    docs = t(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    docs.write.mode("overwrite").option("compression", "gzip").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


@query(
    "q007_streaming_file_source",
    oracle="""
    SELECT count(*) AS n, {s} AS sum_value FROM events
    """.format(s=sql_dsum("value")),
    section="B1-scans",
)
def q007(spark, sf_dir):
    """Streaming file source (the north-star 'S3 as a stream' core):
    readStream over the events parquet, availableNow trigger, complete-mode
    aggregate into a memory sink — batch-equivalent by construction.

    At 100 TB: the same code with a per-trigger file limit caps
    per-batch work and checkpointing makes the listing incremental."""
    stream = events_stream(spark, sf_dir)
    agg = stream.agg(
        F.count("*").alias("n"), dsum("value").alias("sum_value")
    )
    return run_to_memory(agg, "complete", tag="q007")


@query(
    "q008_console_sink",
    oracle="""
    SELECT count(*) AS console_input_rows, CAST(1 AS INT) AS committed
    FROM events
    """,
    section="B1-scans",
)
def q008(spark, sf_dir):
    """Console sink (A19 parity), upgraded from a rows-only smoke to an
    oracled observability row (VERDICT r6 item 6, q248 pattern): run the
    availableNow stream to the console sink, then certify via the
    progress API that EVERY event row passed through it —
    sum(numInputRows) across progress events equals the table
    cardinality exactly — and that at least one batch committed. The
    sink itself writes stdout (unassertable), but the metrics surface a
    production monitor scrapes is exact and oracle-checked."""
    progresses = drain(
        events_stream(spark, sf_dir)
        .writeStream.format("console")
        .option("numRows", 5)
        .option("checkpointLocation", scratch(f"q008_ckpt_{os.path.basename(sf_dir)}"))
    )
    n_rows = sum(int(p["numInputRows"]) for p in progresses)
    committed = int(any(int(p["batchId"]) >= 0 for p in progresses))
    return spark.createDataFrame(
        [(n_rows, committed)], "console_input_rows long, committed int"
    )


@query(
    "q009_orc_roundtrip",
    oracle="""
    SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    """,
    section="B1-scans",
)
def q009(spark, sf_dir):
    """lineitem → ORC (zlib) → read → agg. ORC is the second columnar
    format the engine speaks natively (vectorized reader, predicate
    pushdown, column pruning — same scan contract as parquet)."""
    path = scratch(f"orc_{os.path.basename(sf_dir)}")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    li.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return back.agg(
        F.count("*").alias("n"),
        F.sum("l_orderkey").cast("long").alias("sum_ok"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "q019_xml_roundtrip",
    oracle="""
    SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name,
           CAST(sum(n_nationkey) AS BIGINT) AS sum_key
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    section="B1-scans",
)
def q019(spark, sf_dir):
    """nation → XML → read → agg, using Spark 4's NATIVE XML source (no
    external spark-xml package — built into spark-sql since 4.0, with
    schema inference and rowTag framing). XML is the interchange format
    the engine accepts for small dimension/config feeds; columnar formats
    remain the bulk path."""
    path = scratch(f"xml_{os.path.basename(sf_dir)}")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.mode("overwrite").format("xml").option("rowTag", "nation").save(path)
    back = spark.read.format("xml").option("rowTag", "nation").load(path)
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n"),
            F.min("n_name").alias("first_name"),
            F.sum("n_nationkey").cast("long").alias("sum_key"),
        )
        # bounded result (one row per region)
        .transform(ordered_small, "n_regionkey")
    )


@query(
    "q107_unix_socket_source",
    oracle="SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang",
    section="B1-scans",
)
def q107(spark, sf_dir):
    """Batch read through the custom unix-socket Python DataSource
    (s4_spark/sources/unix_socket.py — the Spark-4 rebuild of the
    reference's socket input, /root/reference/input/unix.go:19-34): a
    mock server (test/tool.go:109-147 analog) serves documents.lang as
    newline records; the source must frame and deliver every record, so
    the per-language counts match the table exactly. The driver-side
    collect feeds the MOCK PRODUCER only — the consuming path is the
    registered data source."""
    import s4_spark.sources as sources
    from s4_spark.sources.mock import serve_payload_forever

    sources.register(spark)
    langs = [r[0] for r in t(spark, sf_dir, "documents").select("lang").collect()]
    payload = "".join(v + "\n" for v in langs).encode()
    # short name: AF_UNIX paths are limited to 107 bytes
    sock = os.path.join(scratch_root(), f"q107_{os.path.basename(sf_dir)}.sock")
    serve_payload_forever(sock, payload)
    df = spark.read.format("s4_unixline").option("path", sock).load()
    return (
        df.select(F.col("value").alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        # bounded result (one row per language)
        .transform(ordered_small, "lang")
    )


@query(
    "q108_unix_socket_listen_stream",
    oracle="SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang",
    section="B1-scans",
)
def q108(spark, sf_dir):
    """Streaming listen-mode fan-in (reference A2, input/unix.go:49-82 +
    river/river.go:43-47): the SOURCE binds the socket path as server;
    three mock producer clients connect concurrently and push disjoint
    slices of documents.lang; every line from every connection lands in
    the one stream, so per-language counts equal the table exactly —
    multi-producer fan-in with zero loss across arbitrary interleaving."""
    import threading as _threading
    import time as _time

    import s4_spark.sources as sources
    from s4_spark.sources.mock import send_when_bound
    from s4_spark.streaming.rigs import _counter, running

    sources.register(spark)
    langs = [r[0] for r in t(spark, sf_dir, "documents").select("lang").collect()]
    slices = [langs[i::3] for i in range(3)]
    run_id = f"{os.path.basename(sf_dir)}_{next(_counter)}"
    sock = os.path.join(scratch_root(), f"q108_{run_id}.sock")
    name = f"s4_q108_{run_id}".replace(".", "_")
    writer = (
        spark.readStream.format("s4_unixline")
        .option("path", sock)
        .option("mode", "listen")
        .option("spoolDir", scratch(f"q108_spool_{name}"))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch(f"q108_ckpt_{name}"))
        .trigger(processingTime="500 milliseconds")
    )

    with running(writer):
        # the source binds on its first micro-batch
        threads = [
            _threading.Thread(
                target=send_when_bound,
                args=(sock, "".join(v + "\n" for v in sl).encode(), 20),
            )
            for sl in slices
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table(name).count() >= len(langs):
                break
            _time.sleep(0.2)
    got = spark.table(name)
    spark.catalog.dropTempView(name)
    return (
        got
        .select(F.col("value").alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        # bounded result (one row per language)
        .transform(ordered_small, "lang")
    )


@query(
    "q142_binaryfile_ingest",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
    section="B1-scans",
)
def q142(spark, sf_dir):
    """Multimodal ingest through Spark's built-in ``binaryFile`` source —
    the real path for image/audio/video corpora (one opaque blob per
    object), unlike q116/q127 which construct payloads in-plan. Stages
    one ``<doc_id>.bin`` per document, reads the directory back as
    (path, modificationTime, length, content:binary), recovers the id
    from the path, and integrity-hashes the payload.

    At 100 TB this is exactly ``spark.read.format("binaryFile")
    .option("pathGlobFilter", "*.jpg").load("s3a://bucket/prefix")``:
    Spark lists the prefix in parallel, packs files into tasks by
    ``maxPartitionBytes``, and never materializes a blob twice —
    downstream decode attaches via mapInPandas (q127). Only the listing
    is centralized; for billions of objects a manifest table replaces
    it (SCALE.md)."""
    path = scratch(f"bin_{os.path.basename(sf_dir)}")
    os.makedirs(path, exist_ok=True)
    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:  # mock object store: tiny, driver-side staging only
        with open(os.path.join(path, f"{r.doc_id}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return (
        df.select(
            F.regexp_extract("path", r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.sha2("content", 256).alias("payload_sha"),
        )
        .orderBy("doc_id")
    )


@query(
    "q152_zorder_layout",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
           CAST(sum(l_partkey) AS BIGINT) AS sum_pk
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 3000
      AND l_partkey BETWEEN 500 AND 1500
    """,
    section="B1-scans",
)
def q152(spark, sf_dir):
    """Z-order layout: rewrite lineitem clustered by the bit-interleaved
    (l_orderkey, l_partkey) Morton code — range-partition + sort on the
    z-value — then answer a 2-D selective query from the re-laid-out
    copy. The check proves the rewrite is lossless; the POINT of the
    layout is that parquet row-group min/max stats become tight in BOTH
    dimensions, so either predicate alone prunes row groups (a single-
    column sort only prunes its own column).

    At 100 TB this is the table-maintenance pass (Delta/Iceberg's
    OPTIMIZE ZORDER) run after ingest: one range-shuffle on the z-value,
    and every later multi-dimensional slice reads a small fraction of
    files. Each dimension is first min/max-normalized to 16 bits —
    interleaving RAW values degenerates to a major-sort on whichever
    column has more significant bits (measured: partkey's 11 bits vs
    orderkey's 14 left every file spanning all of partkey). The z-value
    itself is plain shiftleft/bitwiseOR — whole-stage codegen, no UDF;
    the min/max constants come from one tiny agg (driver-side layout
    metadata, same as range-partition bound sampling)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    lo_ok, hi_ok, lo_pk, hi_pk = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).collect()[0]
    BITS = 16

    def norm(col: str, lo: int, hi: int):
        span = max(hi - lo, 1)
        return (
            (F.col(col).cast("long") - F.lit(lo)) * F.lit((1 << BITS) - 1)
            / F.lit(span)
        ).cast("long")

    nok, npk = norm("l_orderkey", lo_ok, hi_ok), norm("l_partkey", lo_pk, hi_pk)
    z = F.lit(0).cast("long")
    for bit in range(BITS - 1, -1, -1):
        for c in (nok, npk):
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(c, bit).bitwiseAND(F.lit(1))
            )
    path = scratch(f"zorder_{os.path.basename(sf_dir)}")
    (
        li.withColumn("__z", z)
        .repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.filter(
        F.col("l_orderkey").between(1000, 3000)
        & F.col("l_partkey").between(500, 1500)
    ).agg(
        F.count("*").alias("n"),
        F.sum("l_orderkey").cast("long").alias("sum_ok"),
        F.sum("l_partkey").cast("long").alias("sum_pk"),
    )


@query(
    "q153_small_file_compaction",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents GROUP BY lang ORDER BY lang
    """,
    section="B1-scans",
)
def q153(spark, sf_dir):
    """Small-file compaction: the maintenance pass that rewrites a
    fragmented landing prefix (here: documents scattered across 64 tiny
    files, the shape streaming sinks and per-task commits produce) into
    size-targeted files. Fragmentation is a primary 100 TB failure mode:
    footer/open overhead per file dominates scans, and the driver's
    listing grows unboundedly.

    Compaction = one scan + repartition to ceil(bytes / target) — here
    verified to land 64 -> 2 files (asserted in tests/test_sources.py)
    with byte-identical content (the oracle aggregates the original
    table; equality proves losslessness)."""
    frag = scratch(f"frag_{os.path.basename(sf_dir)}")
    docs = t(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    compacted_dir = scratch(f"compacted_{os.path.basename(sf_dir)}")
    frag_df = spark.read.parquet(frag)
    # target ~8 MB files: estimate from the fragmented copy's total size
    total = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    n_files = max(1, (total + (8 << 20) - 1) // (8 << 20))
    frag_df.repartition(int(n_files)).write.mode("overwrite").parquet(compacted_dir)
    back = spark.read.parquet(compacted_dir)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("text")).cast("long").alias("total_bytes"),
        )
        # bounded result (one row per language)
        .transform(ordered_small, "lang")
    )


@query(
    "q154_schema_evolution",
    oracle="""
    WITH v1 AS (SELECT doc_id, lang, NULL AS quality FROM documents
                WHERE doc_id % 2 = 0),
    v2 AS (SELECT doc_id, lang,
                  CAST(length(text) % 100 AS BIGINT) AS quality
           FROM documents WHERE doc_id % 2 = 1),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT lang, count(*) AS n,
           CAST(count(quality) AS BIGINT) AS n_with_quality,
           CAST(sum(quality) AS BIGINT) AS sum_quality
    FROM u GROUP BY lang ORDER BY lang
    """,
    section="B1-scans",
)
def q154(spark, sf_dir):
    """Schema evolution on read: a corpus written over months gains
    columns (here: a `quality` score added in v2 batches). mergeSchema
    unions the file schemas at scan time; v1 rows surface NULL for the
    new column — no rewrite of historical data.

    At 100 TB the schema union comes from the table catalog (or a
    sampled footer set via spark.sql.parquet.mergeSchema), never a
    full-footer sweep; readers pin an explicit schema so adding a column
    is always backward-compatible. The check counts per-lang rows with
    and without the evolved column."""
    base = scratch(f"evolve_{os.path.basename(sf_dir)}")
    docs = t(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "v=1"))
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", (F.length("text") % 100).cast("long").alias("quality")
    ).write.mode("overwrite").parquet(os.path.join(base, "v=2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(base, "v=1"), os.path.join(base, "v=2"))
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.count("quality").cast("long").alias("n_with_quality"),
            F.sum("quality").cast("long").alias("sum_quality"),
        )
        # bounded result (one row per language)
        .transform(ordered_small, "lang")
    )


@query(
    "q164_permissive_corrupt_records",
    oracle="""
    SELECT count(*) + 4 AS n_total,
           CAST(count(*) AS BIGINT) AS n_valid,
           CAST(4 AS BIGINT) AS n_corrupt
    FROM events
    """,
    section="B1-scans",
)
def q164(spark, sf_dir):
    """PERMISSIVE malformed-record handling: where S4 silently drops
    invalid JSON (river/jsonr.go:100-109, mirrored by q090's
    DROPMALFORMED), production corpora QUARANTINE it — PERMISSIVE mode
    parses what it can and lands the raw bytes of the rest in
    `_corrupt_record` for a dead-letter sink, so bad data is auditable
    and replayable instead of gone. The check re-reads an events feed
    salted with the reference's 4 drop-case shapes and proves
    valid + corrupt partitions exactly: corrupt rows surface the raw
    line, valid rows parse every field."""
    landing = scratch(f"q164_landing_{os.path.basename(sf_dir)}")
    os.makedirs(landing, exist_ok=True)
    ev = t(spark, sf_dir, "events").select(
        F.to_json(F.struct("event_id", "event_type", "user_id")).alias("value")
    )
    ev.coalesce(4).write.mode("overwrite").text(landing)
    with open(os.path.join(landing, "malformed.txt"), "w") as f:
        f.write('[1, 2]\n42\n"str"\n{"event_id":\n')  # FIXTURES.md §2 shapes
    parsed = (
        spark.read.schema(
            "event_id long, event_type string, user_id long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(landing)
    )
    return parsed.agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("event_id").isNotNull().cast("int"))
        .cast("long")
        .alias("n_valid"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("int"))
        .cast("long")
        .alias("n_corrupt"),
    )


def bloom_sink_dir(sf_dir: str) -> str:
    """Deterministic output dir for q173's bloom-filtered write, shared
    with the footer-assertion test (tests/test_plans.py). NOT routed
    through scratch(), which rmtree-clears on every call — the test
    must be able to resolve the path without destroying the output."""
    return os.path.join(scratch_root(), f"bloom_{os.path.basename(sf_dir)}")


@query(
    "q173_bloom_filter_write",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(l_partkey) AS BIGINT) AS sum_pk,
           {s} AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (1, 7, 32, 134, 517, 1154, 4804, 9188, 28165, 57317)
    """.format(s=sql_dsum("l_quantity")),
    section="B1-scans",
)
def q173(spark, sf_dir):
    """Parquet bloom-filter WRITE option — the file-level analog of the
    reference's LevelDB 10-bit-per-key bloom policy on its river store
    (/root/reference/river/jsonr.go:27-31): every data file carries a
    membership sketch so point lookups skip files/row-groups without
    touching data pages. Spark spells it as per-column write options:

      parquet.bloom.filter.enabled#l_orderkey = true
      parquet.bloom.filter.expected.ndv#l_orderkey sizes the bitset
      parquet.enable.dictionary#l_orderkey = false — parquet-mr SKIPS
        bloom filters for fully dictionary-encoded columns (the dict is
        already an exact membership structure); at real scale orderkey
        cardinality blows past the dictionary page anyway, but at test
        SF the column must opt out of dictionary or no bloom is written.

    The re-read answers a 10-key point lookup (the access pattern blooms
    accelerate); the oracle proves the round trip lossless. The footer
    assertion — bloom_filter_offset > 0 for l_orderkey, absent for
    uncovered columns, via parquet-mr's ParquetFileReader on the JVM —
    is pinned in tests/test_plans.py::test_bloom_filter_write_in_footer.

    At 100 TB: blooms cost ~1 bit x NDV per row-group at write time and
    turn cold-key probes (contamination checks, id backfills, incident
    forensics) from full scans into footer+bloom reads. Reader-side
    row-group skipping via blooms is on by default
    (spark.sql.parquet.filterPushdown + parquet.filter.bloom.enabled)."""
    keys = [1, 7, 32, 134, 517, 1154, 4804, 9188, 28165, 57317]
    path = bloom_sink_dir(sf_dir)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    (
        li.coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
        .option("parquet.enable.dictionary#l_orderkey", "false")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.filter(F.col("l_orderkey").isin(keys)).agg(
        F.count("*").alias("n"),
        F.sum("l_partkey").cast("long").alias("sum_pk"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "q185_corrupt_parquet_quarantine",
    oracle="""
    SELECT count(*) AS n_rows_recovered,
           CAST(1 AS BIGINT) AS all_valid_files_readable,
           CAST(1 AS BIGINT) AS n_files_quarantined
    FROM documents
    """,
    section="B1-scans",
)
def q185(spark, sf_dir):
    """Corrupt-FILE quarantine for columnar data — the parquet
    complement of q164's per-record JSON dead-letter: a landing prefix
    holds 4 valid parquet files plus one truncated/garbage ``.parquet``
    (the shape a killed writer or partial upload leaves). The scan
    survives it with the per-read ``ignoreCorruptFiles`` OPTION (scoped
    to this reader — not the session-wide conf, same hygiene as the
    nanos handling), recovers every row of the valid files, and the
    quarantine list is derived by anti-diffing the directory listing
    against ``_metadata``'s readable-file set — so bad files are
    IDENTIFIED for replay/repair, not silently skipped and forgotten
    (ignoreCorruptFiles alone is a silent dropper; the listing diff is
    what makes it an auditable quarantine).

    At 100 TB: partial multipart uploads and torn writes are routine;
    the quarantine diff runs on the manifest (file names), never the
    data, and the recovered row count reconciles against the upstream
    ledger exactly as here."""
    import glob as _glob

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    path = scratch(f"quarantine_{os.path.basename(sf_dir)}")
    docs.repartition(4).write.mode("overwrite").parquet(path)
    good = set(
        os.path.basename(f) for f in _glob.glob(os.path.join(path, "*.parquet"))
    )
    bad_file = os.path.join(path, "part-99999-torn-upload.snappy.parquet")
    with open(bad_file, "wb") as fh:
        fh.write(b"PAR1 this is not a parquet footer")
    back = (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(path)
        .select("doc_id", F.col("_metadata.file_name").alias("fn"))
    )
    readable = {r.fn for r in back.select("fn").distinct().collect()}
    listed = set(
        os.path.basename(f) for f in _glob.glob(os.path.join(path, "*.parquet"))
    )
    quarantined = listed - readable
    # Raised, not assert-ed: `python -O` strips asserts, and these ARE the
    # quarantine invariants the operator exists to enforce (VERDICT r4).
    if quarantined != {os.path.basename(bad_file)}:
        raise RuntimeError(f"quarantine set mismatch: {quarantined}")
    if readable != good:
        raise RuntimeError(f"readable-file set mismatch: {readable ^ good}")
    # `all_valid_files_readable` pins SET identity (listing anti-diff ==
    # the injected corruption), not a physical file count — file rolling
    # (maxRecordsPerFile, bigger SF) may legitimately change how many
    # part-files the write produces (ADVICE r4).
    return back.agg(
        F.count("*").alias("n_rows_recovered"),
        F.lit(1 if readable == good else 0)
        .cast("long")
        .alias("all_valid_files_readable"),
        F.lit(len(quarantined)).cast("long").alias("n_files_quarantined"),
    )


def _q200_tables(spark, sf_dir):
    """Partitioned fact + day dim for q200; split out so the plan test
    can assert on the un-collected join under the same layout."""
    fpath = os.path.join(scratch_root(), f"dpp_fact_{os.path.basename(sf_dir)}")
    dpath = os.path.join(scratch_root(), f"dpp_dim_{os.path.basename(sf_dir)}")
    if not (os.path.isdir(fpath) and os.path.isdir(dpath)):
        ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        ev.write.partitionBy("day").mode("overwrite").parquet(fpath)
        (
            ev.select("day")
            .distinct()
            .withColumn("hot", F.dayofmonth("day").cast("int"))
            .write.mode("overwrite")
            .parquet(dpath)
        )
    return spark.read.parquet(fpath), spark.read.parquet(dpath)


@query(
    "q200_dynamic_partition_pruning",
    oracle="""
    SELECT event_type, count(*) AS n,
           {s} AS sum_value
    FROM events WHERE date_part('day', ts) <= 3
    GROUP BY event_type ORDER BY event_type
    """.format(s=sql_dsum("value")),
    section="B1-scans",
)
def q200(spark, sf_dir):
    """Dynamic partition pruning (DPP) — THE scan optimization for a
    date-partitioned 100 TB fact table: the dim side's selective filter
    is evaluated first and its surviving join keys become a runtime
    partition filter on the fact scan
    (``dynamicpruningexpression(day IN dynamicpruning#N)`` in
    PartitionFilters, pinned in tests/test_plans.py) — untouched
    day-partitions are never listed, opened, or read. Static pruning
    can't do this: the day set comes from DATA (the dim filter), not a
    literal predicate.

    DPP gotcha worth the docstring: the dim predicate must be one
    Catalyst considers *likely selective* (a comparison/IN/LIKE — a
    bare boolean attribute does NOT qualify and silently disables the
    rewrite; measured on this exact shape).

    The fixture stages events as a day-partitioned tree + a (day, hot)
    dim in scratch; re-used across calls in-process. Runtime filters
    family: q194 prunes ROWS at the scan via a runtime bloom; this
    prunes whole PARTITIONS via the broadcast's key set."""
    fact, dim = _q200_tables(spark, sf_dir)
    hot = dim.filter(F.col("hot") <= 3)
    return (
        fact.join(hot, "day")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        # bounded result (one row per event type)
        .transform(ordered_small, "event_type")
    )


@query(
    "q202_zone_map_skipping",
    oracle="""
    WITH bounds AS (
      SELECT min(l_orderkey) AS mn, max(l_orderkey) AS mx FROM lineitem),
    w AS (SELECT mn, mx, (mx - mn) // 8 + 1 AS w FROM bounds),
    b AS (SELECT (l_orderkey - (SELECT mn FROM w)) // (SELECT w FROM w)
                   AS zbucket,
                 l_orderkey
          FROM lineitem),
    zm AS (SELECT zbucket, min(l_orderkey) AS min_key,
                  max(l_orderkey) AS max_key, count(*) AS n_rows
           FROM b GROUP BY zbucket)
    SELECT zbucket, min_key, max_key, n_rows,
           CAST((max_key < (SELECT mn + 2 * w FROM w)
                 OR min_key > (SELECT mn + 3 * w - 1 FROM w)) AS BIGINT)
             AS can_skip
    FROM zm ORDER BY zbucket
    """,
    section="B1-scans",
)
def q202(spark, sf_dir):
    """Zone maps + file skipping — the data-skipping primitive behind
    Delta/Iceberg min-max pruning and parquet row-group statistics: if
    a table is CLUSTERED on a key, each physical file covers a narrow
    key range, and a range predicate can skip whole files from the
    footer stats alone, no data pages read.

    The operator (1) clusters lineitem into 8 equal-width key buckets
    computed from two driver-side scalars (min/max — deliberately NOT
    ntile/range-partitioning: a global ntile is one single-partition
    window exchange, while equal-width bucketing is a pure map over the
    scan and produces deterministic, engine-independent boundaries);
    (2) writes one Hive leaf per bucket; (3) re-reads and re-derives
    the zone map (per-bucket min/max/count) FROM THE FILES, proving the
    physical clustering honored the logical one; (4) evaluates a range
    predicate covering exactly bucket 2 against the zone map —
    ``can_skip`` marks files the scan never needs to open (7 of 8
    here). The one-file-per-leaf layout claim is pinned in
    tests/test_plans.py by LISTING the written tree (an in-query
    file-count column can only be tautological here — any group that
    aggregates exists, so `countDistinct(file) >= 1` cannot fail, and
    exact counts would break under file rolling, per the q184
    oracle-design note).

    Scale shape: at 100 TB this is the maintenance pass that turns a
    write-ordered table into a query-ordered one (q152's Z-order is the
    multi-column generalization); the zone-map audit itself is one
    scan + one 8-group aggregate. The skip decision is metadata-only —
    the engine's own footer-stat pruning of the same layout is pinned
    in tests/test_plans.py (parquet min/max PushedFilters)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    mn, mx = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    w = (mx - mn) // 8 + 1
    path = scratch(f"zmap_{os.path.basename(sf_dir)}")
    (
        li.withColumn("zbucket", F.expr(f"(l_orderkey - {mn}) div {w}"))
        .repartition("zbucket")
        .write.partitionBy("zbucket")
        .mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).select("l_orderkey", "zbucket")
    lo, hi = mn + 2 * w, mn + 3 * w - 1
    return (
        back.groupBy("zbucket")
        .agg(
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.col("zbucket").cast("long").alias("zbucket"),
            "min_key",
            "max_key",
            "n_rows",
            ((F.col("max_key") < lo) | (F.col("min_key") > hi))
            .cast("long")
            .alias("can_skip"),
        )
        # bounded result (one row per zone bucket)
        .transform(ordered_small, "zbucket")
    )


def _q210_write_df(spark, sf_dir):
    """The exact pre-write DataFrame q210 hands to the sink — split out
    so the plan test asserts the rebalance hint on the QUERY'S OWN
    plan, not a reconstruction."""
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .hint("rebalance", "lang")
    )


@query(
    "q210_balanced_write",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    section="B1-scans",
)
def q210(spark, sf_dir):
    """Rebalanced partitioned write — the output-file-sizing tool for a
    skewed 100 TB write: ``hint("rebalance", key)`` inserts an AQE
    RebalancePartitions exchange that SPLITS oversized partitions and
    COALESCES undersized ones at runtime (target =
    spark.sql.adaptive.advisoryPartitionSizeInBytes), so a dominant
    partition key yields several right-sized files instead of one huge
    straggler file, and rare keys don't spray thousands of tiny files.
    ``repartition(key)`` can do neither: it fixes one partition per
    hash bucket whatever the size; a skewed key makes one task write
    one giant file (the straggler that gates the whole job at 100 TB).

    RebalancePartitions presence is pinned in tests/test_plans.py ON
    THIS QUERY'S OWN write plan (via _q210_write_df — a hand-built
    lookalike in the test would keep passing after the hint was dropped
    here); the oracle pins that rebalancing is CONTENT-NEUTRAL — the
    round-tripped per-lang counts and char sums are identical to
    reading the source directly (file layout is a physical property,
    never a semantic one)."""
    d = _q210_write_df(spark, sf_dir)
    path = scratch(f"rebal_{os.path.basename(sf_dir)}")
    d.write.partitionBy("lang").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@query(
    "q214_manifest_time_travel",
    oracle="""
    WITH half AS (SELECT count(*) // 2 AS h FROM documents),
    v1 AS (SELECT 1 AS version, count(*) AS n_docs,
                  CAST(sum(doc_id) AS BIGINT) AS id_sum
           FROM documents WHERE doc_id < (SELECT h FROM half)),
    v2 AS (SELECT 2 AS version, count(*) AS n_docs,
                  CAST(sum(doc_id) AS BIGINT) AS id_sum
           FROM documents)
    SELECT * FROM v1 UNION ALL SELECT * FROM v2 ORDER BY version
    """,
    section="B1-scans",
)
def q214(spark, sf_dir):
    """Manifest-based snapshot reads (time-travel lite) — the core idea
    under Iceberg/Delta: a table version is a MANIFEST (list of
    immutable data files), never a directory listing. Append = write
    new files + a new manifest version that includes them; old versions
    stay readable forever because no file is ever rewritten; readers
    pick a version and see an immutable snapshot regardless of
    concurrent appends.

    The operator writes snapshot v1 (first corpus half), appends a
    second batch as NEW files, records a (version, file_path) manifest
    as data, and answers "read version N" by scanning exactly the
    manifest's files for N — proving v1 readers do NOT see the append.
    The manifest collect is bounded (file list, not rows); at 100 TB
    manifests are themselves partitioned data (Iceberg's avro manifest
    tree) and version file-lists feed the scan as a file index, with
    per-file stats enabling q202-style skipping BEFORE listing — a
    directory listing of a million-file table is exactly what this
    avoids.

    Complements q151 (diff two snapshots), q195 (apply a delta), q181
    (partition-level refresh): this is the VERSIONING substrate those
    operators assume."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    half = docs.count() // 2
    import glob as _glob

    base = scratch(f"ttl_{os.path.basename(sf_dir)}")
    d1, d2 = os.path.join(base, "batch1"), os.path.join(base, "batch2")
    docs.filter(F.col("doc_id") < half).write.parquet(d1)
    docs.filter(F.col("doc_id") >= half).write.parquet(d2)
    f1 = sorted(_glob.glob(os.path.join(d1, "*.parquet")))
    f2 = sorted(_glob.glob(os.path.join(d2, "*.parquet")))
    manifest = spark.createDataFrame(
        [(1, f) for f in f1] + [(2, f) for f in f1 + f2],
        "version int, file_path string",
    )
    manifest.write.mode("overwrite").parquet(os.path.join(base, "manifest"))
    mf = spark.read.parquet(os.path.join(base, "manifest"))

    def read_version(v: int):
        files = [
            r["file_path"]
            for r in mf.filter(F.col("version") == v).collect()
        ]
        if not files:
            # an empty snapshot has an empty manifest — represent it as
            # zero rows rather than handing spark.read an empty path
            # list (which raises UNABLE_TO_INFER_SCHEMA)
            return spark.range(1).select(
                F.lit(v).alias("version"),
                F.lit(0).cast("long").alias("n_docs"),
                F.lit(None).cast("long").alias("id_sum"),
            )
        return spark.read.parquet(*files).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )

    return read_version(1).unionByName(read_version(2)).orderBy("version")


_SPOOL_ORACLE = """
    SELECT count(*) AS n_records,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           {sv} AS sum_value
    FROM events
    """.format(sv=sql_dsum("value"))


@query("q242_python_datasource_sink", oracle=_SPOOL_ORACLE, section="B1-scans")
def q242(spark, sf_dir):
    """Custom BATCH sink through the Spark 4 Python DataSource writer
    API (sources/linespool.py — the writer-side twin of the
    unix-socket reader): events serialize to JSON lines, flow through
    the V2 two-phase commit protocol (executors stage partition files
    + return commit messages; only the driver publishes and writes the
    _SUCCESS manifest), and are read back and aggregated. Equality
    with the events-table oracle proves the sink moved every row
    exactly once through the stage/commit path; the abort path (a
    failed job leaves NO visible output) is pinned by pytest."""
    import s4_spark.sources as sources

    sources.register(spark)
    out = scratch(f"q242_out_{os.path.basename(sf_dir)}")
    os.makedirs(out, exist_ok=True)
    lines = t(spark, sf_dir, "events").select(
        F.to_json(F.struct("event_id", "value")).alias("value")
    )
    lines.write.format("linespool").option("path", out).mode("append").save()
    back = spark.read.text(out).withColumn(
        "__row", F.from_json("value", "event_id long, value double")
    )
    return back.agg(
        F.count("*").alias("n_records"),
        F.sum("__row.event_id").cast("long").alias("sum_ids"),
        dsum(F.col("__row.value")).alias("sum_value"),
    )


@query("q243_python_datasource_stream_sink", oracle=_SPOOL_ORACLE, section="B1-scans")
def q243(spark, sf_dir):
    """Custom STREAMING sink through DataSourceStreamWriter: the same
    line spool, but publication is keyed by batchId — each micro-batch
    assembles in a hidden dir and lands with ONE atomic rename to
    batch=<id>/, which a checkpoint REPLAY replaces instead of
    appending beside (the q209 idempotent-overwrite discipline, now
    inside a reusable sink instead of a foreachBatch closure; replay
    idempotency is pinned by a direct unit test on the committer).
    The streamed events aggregate back to the events-table oracle."""
    import s4_spark.sources as sources

    sources.register(spark)
    out = scratch(f"q243_out_{os.path.basename(sf_dir)}")
    os.makedirs(out, exist_ok=True)
    lines = events_stream(spark, sf_dir).select(
        F.to_json(F.struct("event_id", "value")).alias("value")
    )
    drain(
        lines.writeStream.format("linespool")
        .option("path", out)
        .option("checkpointLocation", scratch(f"q243_ckpt_{os.path.basename(sf_dir)}"))
    )
    back = spark.read.text(os.path.join(out, "batch=*")).withColumn(
        "__row", F.from_json("value", "event_id long, value double")
    )
    return back.agg(
        F.count("*").alias("n_records"),
        F.sum("__row.event_id").cast("long").alias("sum_ids"),
        dsum(F.col("__row.value")).alias("sum_value"),
    )


@query(
    "q246_offset_managed_stream_source",
    oracle="SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang",
    section="B1-scans",
)
def q246(spark, sf_dir):
    """Offset-managed custom STREAMING source (sources/chunk_spool.py):
    the full DataSourceStreamReader protocol — explicit {"index": N}
    record offsets checkpointed by Spark, partitions(start, end) fanning
    each micro-batch into one InputPartition per chunk for PARALLEL
    executor-side reads, and commit(end) ACKING the consumed
    prefix by deleting it (all but the newest chunk, which holds the
    offset once the spool is drained, as in the unix-socket source) —
    the reference's drain-after-flush spool semantics keyed by Spark's
    own committed offset rather than a delete-before-send race.
    documents.lang spread over 8 chunk files must aggregate back to the
    table exactly. The ack is deferred the way V2 sources define it —
    commit(end) fires when the NEXT run (or batch) starts from the
    checkpointed offset, never before the downstream commit is durable;
    the pytest rig drives two availableNow runs through one checkpoint
    and asserts run 2 deletes run 1's chunks and re-reads nothing
    (exactly-once drain)."""
    import s4_spark.sources as sources
    from s4_spark.sources.chunk_spool import write_chunk

    sources.register(spark)
    spool = scratch(f"q246_spool_{os.path.basename(sf_dir)}")
    os.makedirs(spool, exist_ok=True)
    # toPandas rides the session Arrow transfer path (guide §6) -
    # cheaper than row-pickled collect() for this driver fixture
    langs = t(spark, sf_dir, "documents").select("lang").toPandas()["lang"].tolist()
    per = max(1, (len(langs) + 7) // 8)  # 8 chunk files
    for i in range(0, len(langs), per):
        write_chunk(spool, i, langs[i : i + per])

    df = (
        spark.readStream.format("chunkspool")
        .option("path", spool)
        .load()
        .select(F.col("value").alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    # bounded result (one row per language)
    return ordered_small(run_to_memory(df, mode="complete", tag="q246"), "lang")


@query(
    "q263_bucket_pruning",
    oracle="""
    SELECT o_custkey, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM orders WHERE o_custkey IN (7, 20)
    GROUP BY o_custkey ORDER BY o_custkey
    """,
    section="B1-scans",
)
def q263(spark, sf_dir):
    """Bucket PRUNING on read — the scan-side payoff of the bucketed
    layout q045 uses for shuffle-free joins: an equality / IN predicate
    on the bucket column lets Spark compute which buckets can hold the
    keys and skip the rest at file-listing time
    (``SelectedBucketsCount: 2 out of 8`` pinned in
    tests/test_plans.py). Completes the storage-pruning battery: q200
    partition pruning (directory level), q202 zone maps (file
    min/max), q173 blooms (page level), and bucket pruning (hash
    level) — each cuts I/O BEFORE rows exist to filter.

    At 100 TB a point lookup on a bucketed fact table reads 1/N of the
    data with zero index maintenance — the hash function IS the index.
    The trade against partition pruning: buckets handle high-
    cardinality keys (custkey) where one-directory-per-value would
    melt the metastore. Same pid-namespaced warehouse rebuild
    discipline as q045/q201 (a fresh session with a stale directory
    rebuilds cleanly)."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    # NOT scratch(): that helper rmtrees on every call, which would
    # delete the table's files while the catalog entry survives
    warehouse = os.path.join(scratch_root(), f"bucketprune_{tag}")
    name = f"orders_bp_{tag}"
    path = os.path.join(warehouse, "orders_bp")
    if not (spark.catalog.tableExists(name) and os.path.isdir(path)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
    return (
        spark.table(name)
        .filter(F.col("o_custkey").isin(7, 20))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .orderBy("o_custkey")
    )


@query(
    "q271_column_defaults",
    oracle="""
    WITH ins AS (
      SELECT o_orderkey, o_totalprice, 'backfill' AS ingest_source,
             2 AS quality_tier
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'live', 1
      FROM orders WHERE o_orderkey % 3 = 1)
    SELECT ingest_source, quality_tier, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM ins GROUP BY ingest_source, quality_tier
    ORDER BY ingest_source, quality_tier
    """,
    section="B1-scans",
)
def q271(spark, sf_dir):
    """DEFAULT column values on INSERT (Spark 3.4+): the table schema
    declares the default, and writers that omit the column get it
    filled AT WRITE TIME — the DML-side cousin of q154's
    schema-evolution-on-read (where historical rows surface NULL and
    every reader must know the backfill rule). With declared defaults
    the rule lives in ONE place, the catalog; a 100 TB table adding a
    provenance/tier column mid-life gets consistent values no matter
    which of dozens of writers did the insert.

    The rig: a backfill INSERT omits both annotated columns (defaults
    fill them), a live-path INSERT sets them explicitly; the audit
    groups by the filled values — read back from the committed parquet,
    so the check covers catalog metadata -> write path -> storage
    round-trip, not just the parser. Same pid-namespaced rebuild
    discipline as the other table entries."""
    from s4_spark.catalog import register_views

    register_views(spark, sf_dir, tables=("orders",))
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"orders_defaults_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    path = scratch(f"defaults_{tag}")
    spark.sql(
        f"""
        CREATE TABLE {name} (
          o_orderkey BIGINT,
          o_totalprice DOUBLE,
          ingest_source STRING DEFAULT 'backfill',
          quality_tier INT DEFAULT 2
        ) USING parquet LOCATION '{path}'
        """
    )
    spark.sql(
        f"""
        INSERT INTO {name} (o_orderkey, o_totalprice)
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        """
    )
    spark.sql(
        f"""
        INSERT INTO {name}
        SELECT o_orderkey, o_totalprice, 'live', 1
        FROM orders WHERE o_orderkey % 3 = 1
        """
    )
    return (
        spark.table(name)
        .groupBy("ingest_source", "quality_tier")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .orderBy("ingest_source", "quality_tier")
    )


def _q274_frames(spark, sf_dir):
    """Build (enriched, out): the cacheable enrichment join and the
    two-branch aggregate union over it (shared with the plan test)."""
    enriched = (
        t(spark, sf_dir, "customer")
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_mktsegment", "c_acctbal")
    )
    a = (
        enriched.groupBy("n_name")
        .agg(F.count("*").alias("n"), dsum("c_acctbal").alias("total"))
        .select(
            F.lit("nation").alias("dim"), F.col("n_name").alias("key"), "n", "total"
        )
    )
    b = (
        enriched.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), dsum("c_acctbal").alias("total"))
        .select(
            F.lit("segment").alias("dim"),
            F.col("c_mktsegment").alias("key"),
            "n",
            "total",
        )
    )
    return enriched, a.unionByName(b).orderBy("dim", "key")


@query(
    "q274_columnar_cache_reuse",
    oracle="""
    WITH e AS (
      SELECT n_name, c_mktsegment, c_acctbal
      FROM customer JOIN nation ON c_nationkey = n_nationkey),
    a AS (
      SELECT 'nation' AS dim, n_name AS key, count(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total
      FROM e GROUP BY n_name),
    b AS (
      SELECT 'segment' AS dim, c_mktsegment AS key, count(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total
      FROM e GROUP BY c_mktsegment)
    SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    ORDER BY dim, key
    """,
    section="B1-scans",
)
def q274(spark, sf_dir):
    """COLUMNAR CACHE reuse (``persist`` → ``InMemoryTableScan``): one
    enrichment join is materialized into Spark's compressed columnar
    cache and BOTH downstream aggregations scan the cached batches
    instead of re-running the join — the executed plan carries an
    InMemoryTableScan under each union branch (companion test pins
    it). This is the interactive-session primitive the scan family
    otherwise lacks: q001's scans re-read parquet every query, q153
    compacts files, q274 is the "hot working set" tier above both.

    Scale shape: the cache is partition-local (each executor caches
    the blocks it computed — no shuffle, no driver hop), columnar and
    compressed, and MEMORY_AND_DISK spills to local disk instead of
    recomputing or OOMing when the working set outgrows executor
    memory. Column pruning still applies (a cached-scan reads only the
    columns asked of it), but filter pushdown does NOT reach parquet
    through a cache — so cache AFTER the selective join/filter, as
    here, never the raw fact table. The one-barrier caveat from
    operators/dedup.py applies too: an InMemoryRelation hides runtime
    stats from AQE, so cache boundaries belong BETWEEN logical stages,
    not inside a join AQE should re-plan. Cache lifetime is scoped to
    the call (unpersist in ``finally``) so the registry run leaks no
    executor memory."""
    from pyspark.storagelevel import StorageLevel

    enriched, out = _q274_frames(spark, sf_dir)
    enriched.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return out.localCheckpoint(eager=True)
    finally:
        enriched.unpersist()
