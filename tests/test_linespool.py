"""Commit-protocol guarantees of the linespool Python DataSource sink
(q242/q243): abort leaves no visible output; a batch append adds to the
root and an overwrite replaces it; streaming batch commit is
replay-idempotent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s4_spark.sources.linespool import LineSpoolStreamWriter, SpoolCommit, _manifest


def test_batch_abort_leaves_no_visible_output(spark, tmp_path):
    """A job that fails mid-write must publish NOTHING: staged partition
    files are aborted, no part-*.txt and no _SUCCESS appear."""
    import s4_spark.sources as sources

    sources.register(spark)
    out = str(tmp_path / "aborted")
    os.makedirs(out)

    poison = F.udf(lambda v: (_ for _ in ()).throw(RuntimeError("poison")) if v == 7 else str(v), "string")
    df = spark.range(16).select(poison("id").alias("value"))
    with pytest.raises(Exception):
        df.write.format("linespool").option("path", out).mode("append").save()
    visible = [p for p in os.listdir(out) if not p.startswith(".")]
    assert visible == [], visible


def _spool_write(spark, out, values, mode, partitions=1):
    df = spark.sql(
        "SELECT * FROM VALUES " + ", ".join(f"('{v}')" for v in values) + " AS t(value)"
    ).repartition(partitions)
    df.write.format("linespool").option("path", out).mode(mode).save()


def _spool_read(spark, out):
    return sorted(r.value for r in spark.read.text(out).collect())


def test_batch_append_adds_to_the_earlier_output(spark, tmp_path):
    """A second append lands beside the first job's parts instead of
    renaming over them, and the manifest lists both jobs' parts."""
    import s4_spark.sources as sources

    sources.register(spark)
    out = str(tmp_path / "appended")
    os.makedirs(out)
    _spool_write(spark, out, ["a", "b"], "append")
    _spool_write(spark, out, ["c"], "append")
    assert _spool_read(spark, out) == ["a", "b", "c"]
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    assert sorted(_manifest(out)) == parts and len(parts) == 2


def test_batch_overwrite_replaces_the_earlier_output_once_committed(
    spark, tmp_path
):
    """An overwrite that fails leaves the earlier output as it was; one
    that commits leaves only its own rows, and the manifest lists only
    its parts."""
    import s4_spark.sources as sources

    sources.register(spark)
    out = str(tmp_path / "overwritten")
    os.makedirs(out)
    _spool_write(spark, out, ["x", "y"], "append", partitions=2)
    poison = F.udf(lambda v: (_ for _ in ()).throw(RuntimeError("poison")), "string")
    with pytest.raises(Exception):
        spark.range(1).select(poison("id").alias("value")).write.format(
            "linespool"
        ).option("path", out).mode("overwrite").save()
    assert _spool_read(spark, out) == ["x", "y"]
    _spool_write(spark, out, ["z"], "overwrite")
    assert _spool_read(spark, out) == ["z"]
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    assert sorted(_manifest(out)) == parts and len(parts) == 1


def test_stream_commit_is_replay_idempotent(tmp_path):
    """Replaying a micro-batch (same batchId) REPLACES its batch dir —
    the committer is driven directly, no Spark needed."""
    out = str(tmp_path / "spool")
    os.makedirs(out)
    w = LineSpoolStreamWriter({"path": out})

    def staged(content):
        stage = os.path.join(out, ".staging")
        os.makedirs(stage, exist_ok=True)
        p = os.path.join(stage, f"s{content}.txt")
        with open(p, "w") as f:
            f.write(f"row-{content}\n")
        return SpoolCommit(staged=p, n_rows=1)

    w.commit([staged("a")], batchId=5)
    first = sorted(os.listdir(os.path.join(out, "batch=5")))
    # failure-after-commit, before checkpoint: the SAME batch replays
    w.commit([staged("a")], batchId=5)
    second = sorted(os.listdir(os.path.join(out, "batch=5")))
    assert first == second
    with open(os.path.join(out, "batch=5", "part-00000.txt")) as f:
        assert f.read() == "row-a\n"  # replaced, not appended


def test_single_string_column_enforced(spark):
    import s4_spark.sources as sources

    sources.register(spark)
    df = spark.range(3).select(F.col("id"), F.col("id").alias("b"))
    with pytest.raises(Exception):
        df.write.format("linespool").option("path", "/tmp/never").save()


def test_staging_scoped_per_writer_and_swept(tmp_path):
    """r6 advice: staging is namespaced per writer token. A concurrent
    writer's in-flight staged file survives another writer's commit, and
    a writer's own failed-attempt orphans (never named in messages) are
    swept at its commit instead of accumulating across batches."""
    out = str(tmp_path / "spool")
    os.makedirs(out)
    w1 = LineSpoolStreamWriter({"path": out})
    w2 = LineSpoolStreamWriter({"path": out})
    assert w1.token != w2.token

    def stage(w, name):
        d = os.path.join(out, ".staging", w.token)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{name}.txt")
        with open(p, "w") as f:
            f.write(f"row-{name}\n")
        return SpoolCommit(staged=p, n_rows=1)

    m1 = stage(w1, "good")
    stage(w1, "orphan-from-failed-attempt")  # never surfaces in messages
    m2_inflight = stage(w2, "concurrent-inflight")

    w1.commit([m1], batchId=0)
    # w1's own subtree (incl. the orphan) is gone...
    assert not os.path.exists(os.path.join(out, ".staging", w1.token))
    # ...but w2's in-flight staged file is untouched
    assert os.path.exists(m2_inflight.staged)
    w2.commit([m2_inflight], batchId=0)
    with open(os.path.join(out, "batch=0", "part-00000.txt")) as f:
        assert f.read() == "row-concurrent-inflight\n"
