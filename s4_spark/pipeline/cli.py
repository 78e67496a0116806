"""CLI mirroring the reference's command surface
(/root/reference/main.go:172-193: `s4 client|server|mock` with flags
--unix --s3Path --region --buffer --flush --type and env-var fallbacks
S4_SOCKET_PATH, S4_S3_PATH, S4_BUFFER_PATH, S4_FLUSH_TIME, S4_RIVER_TYPE).

    python -m s4_spark.pipeline.cli run  --input DIR --output DIR [...]
    python -m s4_spark.pipeline.cli mock --output DIR

`run` subsumes client/server: both reference modes build the same
pipeline, and with `--source unixline` the listen/connect distinction
maps directly — `--socket-mode connect` is `s4 client`
(main.go:106-122), `--socket-mode listen` is `s4 server`
(main.go:124-140: bind the path, fan in every producer connection).
`mock` is the A24 analog: a rate source feeding {"index": N} records
through the json pipeline to the console sink for ~10 s
(/root/reference/main.go:142-166).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def apply_region(spark, region: str | None) -> None:
    """--region / S4_REGION passthrough (/root/reference/main.go:30-34,
    62-72). Set on the LIVE hadoopConfiguration: getOrCreate may hand
    back an existing session, where a builder conf would be silently
    ignored — the runtime Hadoop conf is what S3A actually reads."""
    if region:
        spark._jsc.hadoopConfiguration().set("fs.s3a.endpoint.region", region)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="s4-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="start the ingest pipeline")
    run.add_argument("--input", default=os.environ.get("S4_SOCKET_PATH"),
                     help="landing dir, or unix socket path (--source unixline)")
    run.add_argument("--output", default=os.environ.get("S4_S3_PATH"),
                     help="sink dir or s3a:// URI")
    run.add_argument("--checkpoint", default=os.environ.get("S4_BUFFER_PATH"),
                     help="checkpoint dir (the durable-buffer analog)")
    run.add_argument("--region", default=os.environ.get("S4_REGION"),
                     help="object-store region -> fs.s3a.endpoint.region "
                          "(reference: --region / S4_REGION, "
                          "main.go:30-34,62-72 — required there; here "
                          "required only for an s3a:// --output)")
    run.add_argument("--flush", default=os.environ.get("S4_FLUSH_TIME", "5 minutes"))
    run.add_argument("--type", dest="rtype",
                     default=os.environ.get("S4_RIVER_TYPE", "line"),
                     choices=["line", "json"])
    run.add_argument("--sink", default="lake", choices=["lake", "console"])
    run.add_argument("--source", default="text",
                     choices=["text", "unixline"])
    run.add_argument("--socket-mode", default="connect",
                     choices=["connect", "listen"],
                     help="unixline only: connect = s4 client, "
                          "listen = s4 server (bind + multi-producer fan-in)")
    run.add_argument("--once", action="store_true",
                     help="drain available input and exit (availableNow)")

    mock = sub.add_parser("mock", help="self-contained demo (A24 analog)")
    mock.add_argument("--seconds", type=int, default=10)

    corp = sub.add_parser(
        "corpus", help="corpus-prep job: quality filter + dedup (q130 stages)"
    )
    corp.add_argument("--input", required=True, help="documents parquet dir")
    corp.add_argument("--output", required=True, help="cleaned-corpus output dir")
    corp.add_argument("--min-tokens", type=int, default=5)
    corp.add_argument("--max-punct-ratio", type=float, default=0.5)
    corp.add_argument("--jaccard", type=float, default=0.5)

    args = p.parse_args(argv)

    from s4_spark.pipeline.s4 import S4Config, run_once, start
    from s4_spark.session import get_spark

    spark = get_spark(app_name="s4_pipeline")

    if args.cmd == "corpus":
        from s4_spark.pipeline.corpus import prepare_corpus

        docs = spark.read.parquet(args.input)
        clean = prepare_corpus(
            docs,
            min_tokens=args.min_tokens,
            max_punct_ratio=args.max_punct_ratio,
            jaccard_threshold=args.jaccard,
        )
        clean.write.mode("overwrite").parquet(args.output)
        stats = (
            spark.read.parquet(args.output)
            .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
            .collect()[0]
        )
        print(f"corpus: kept {stats.n_docs} docs / {stats.n_tokens} tokens")
        return 0

    if args.cmd == "mock":
        # rate source -> {"index": N} records -> console (main.go:142-166)
        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 5)
            .load()
            .select(F.to_json(F.struct(F.col("value").alias("index"))).alias("value"))
        )
        from s4_spark.streaming.rigs import running

        with running(stream.writeStream.format("console")) as q:
            q.awaitTermination(args.seconds)
        return 0

    for req in ("input", "output", "checkpoint"):
        if not getattr(args, req):
            # ErrOptionRequired analog (main.go:19,62-72)
            p.error(f"--{req} is required (or set the matching S4_* env var)")
    if args.output.startswith("s3a://") and not args.region:
        p.error("--region is required for an s3a:// output (or set S4_REGION)")
    apply_region(spark, args.region)

    cfg = S4Config(
        input_path=args.input,
        output_path=args.output,
        checkpoint_path=args.checkpoint,
        record_type=args.rtype,
        flush_interval=args.flush,
        sink=args.sink,
        source_format=args.source,
        socket_mode=args.socket_mode,
    )
    if args.once:
        run_once(spark, cfg)
        return 0
    q = start(spark, cfg)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
