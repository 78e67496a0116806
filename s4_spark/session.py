"""SparkSession factory.

Local test mode runs ``local[N]`` in one JVM, but every config here is
chosen to also hold on a 1000-executor cluster reading 100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the main defense against skew and
  mis-sized shuffles at scale.
- ``spark.sql.shuffle.partitions`` sized to cores locally; at cluster
  scale AQE coalesces from a high initial number, so the same code runs
  unchanged.
- Arrow enabled — all pandas-UDF paths (LLM operators) batch through
  Arrow instead of per-row pickling.
- UTC session timezone — partition keys and timestamp semantics never
  depend on a host's wall clock (the reference used the local clock for
  S3 keys, /root/reference/lake/lake.go:79 — a known quirk we fix).
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession


def env_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` (a positive int), else the box's core count."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 1
    if not re.fullmatch(r"[1-9]\d*", raw.strip()):
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def env_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` (``<n>[mg]``), else min(24g, 60% of
    MemTotal): a heap larger than the box invites the OOM killer instead
    of a clean JVM OutOfMemoryError."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if raw is not None:
        if not re.fullmatch(r"[1-9]\d*[mg]", raw.strip(), re.IGNORECASE):
            raise ValueError(
                f"SPARK_GRAFT_DRIVER_MEM must look like <n>m or <n>g, got {raw!r}"
            )
        return raw.strip()
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, int(total_kb / 1024 * 0.6))}m"


DEFAULT_CPUS = env_cpus()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for the body, then put every key back
    the way it was: unset if it was unset, else its old value. Restore
    never uses ``get(k)`` without a default — that fetches the
    REGISTERED default and would pin it as an explicit session conf."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "s4_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    In a cluster deployment the ``master`` is supplied by spark-submit;
    locally we default to ``local[N]``.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Nanos-typed events (the round-1 generator variant) are handled by
        # catalog.read_parquet_adaptive(), which enables the nanosAsLong
        # legacy conf only when a footer demands it — setting it here
        # unconditionally leaked legacy-read behavior into every parquet
        # scan of the session (ADVICE r3).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Reliable checkpoints (cut_lineage(reliable=True) in fixpoint
        # loops) are deleted when their RDD is GC'd only if this is on;
        # off, a long CC/k-means run accumulates one state copy per round
        # in the checkpoint dir forever (ADVICE r4). Core conf — read by
        # ContextCleaner at context START, so it must be set here, not at
        # runtime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", env_driver_memory())
    )
    if os.environ.get("SPARK_GRAFT_CLUSTER"):
        # Cluster deployment against S3 (the north-star source/sink).
        # Inert locally — hadoop-aws isn't on the test classpath; on a
        # real cluster these are the settings that matter at 100 TB:
        for k, v in {
            # never rename on S3: task/job commits become metadata ops
            "spark.sql.sources.commitProtocolClass":
                "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
            "spark.sql.parquet.output.committer.class":
                "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
            "spark.hadoop.fs.s3a.committer.name": "magic",
            # parallel multipart uploads sized for large part-files
            "spark.hadoop.fs.s3a.fast.upload": "true",
            "spark.hadoop.fs.s3a.multipart.size": "128M",
            "spark.hadoop.fs.s3a.connection.maximum": "256",
            # bound the driver-side listing cost of huge landing prefixes
            "spark.sql.streaming.fileSource.log.compactInterval": "10",
        }.items():
            builder = builder.config(k, v)
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
