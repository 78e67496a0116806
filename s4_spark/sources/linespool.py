"""Custom line-spool SINK via the Spark 4 Python DataSource writer API —
the writer-side twin of sources/unix_socket.py's reader (SURVEY.md §2-A:
the reference's pipeline ENDS in a line-oriented sink; this re-expresses
that surface through the public DataSource V2 Python API instead of a
foreachBatch escape hatch).

Both writers implement the two-phase commit protocol the V2 API defines:

- executors stage each partition to a hidden ``.staging/<token>/`` file
  (token = per-writer-instance UUID, so concurrent jobs sharing a path
  never touch each other's staging) and return a picklable
  :class:`WriterCommitMessage` naming it;
- only the DRIVER publishes: batch commit renames every staged file to
  its final ``part-NNNNN-<token>.txt`` (named for the job, so an append
  adds files beside the earlier jobs' parts), an overwrite then deletes
  the earlier parts, and a ``_SUCCESS`` manifest lists every part the
  root holds + its row count; abort deletes the staged files, so a
  failed job — an overwrite included — leaves the earlier output as it
  was and adds NO visible output (test-pinned).
- the STREAMING writer keys publication by ``batchId``
  (``batch=<id>/part-*``) and REPLACES the whole batch directory on
  replay via an atomic rename — the same batch-id-keyed idempotent
  overwrite q209's index maintenance uses, so checkpoint-replayed
  micro-batches cannot double-write (exactly-once at the sink).

Scale notes: staging and publication are pure per-partition renames —
no driver data movement; the commit message carries a path + count, not
rows. On a real cluster ``path`` must be a shared filesystem (S3A/HDFS);
rename-as-publish maps to the same committer pattern Spark's own file
sinks use. Rows must have exactly one string column (like
``spark.write.text``).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class SpoolCommit(WriterCommitMessage):
    staged: str
    n_rows: int


def _stage_dir(path: str, token: str) -> str:
    # Staging is namespaced per WRITER INSTANCE (r6 advice): the token is
    # minted on the driver at writer construction and travels to every
    # task via pickling, so (a) failed/speculative task attempts — whose
    # staged files never surface in commit messages — are confined to
    # this writer's own subtree and swept at its next commit, and (b) two
    # concurrent jobs sharing one output path can never delete each
    # other's in-flight staged files (the old flat .staging/ rmtree did).
    return os.path.join(path, ".staging", token)


def _write_partition(path: str, token: str, iterator) -> SpoolCommit:
    os.makedirs(_stage_dir(path, token), exist_ok=True)
    staged = os.path.join(_stage_dir(path, token), f"{uuid.uuid4().hex}.txt")
    n = 0
    with open(staged, "w") as f:
        for row in iterator:
            f.write(f"{row[0]}\n")
            n += 1
    return SpoolCommit(staged=staged, n_rows=n)


def _manifest(path: str) -> dict[str, int]:
    """Row count per part file from ``path``'s ``_SUCCESS`` manifest
    (empty when no job has committed there)."""
    try:
        with open(os.path.join(path, "_SUCCESS")) as f:
            rows = dict(line.rstrip("\n").split("\t") for line in f)
    except FileNotFoundError:
        return {}
    rows.pop("total", None)
    return {name: int(n) for name, n in rows.items()}


class LineSpoolBatchWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite
        self.token = uuid.uuid4().hex

    def write(self, iterator) -> SpoolCommit:
        return _write_partition(self.path, self.token, iterator)

    def commit(self, messages) -> None:
        published = {}
        for i, m in enumerate(messages):
            if m is None:
                continue
            name = f"part-{i:05d}-{self.token}.txt"
            os.replace(m.staged, os.path.join(self.path, name))
            published[name] = m.n_rows
        if self.overwrite:
            # only now that the new parts are published: an overwrite
            # that fails before this point leaves the old output whole
            held = {}
            for p in os.listdir(self.path):
                if p.startswith("part-") and p not in published:
                    os.remove(os.path.join(self.path, p))
        else:
            held = _manifest(self.path)
        held.update(published)
        lines = [f"{name}\t{n}" for name, n in sorted(held.items())]
        tmp = os.path.join(self.path, "_SUCCESS.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines + [f"total\t{sum(held.values())}"]) + "\n")
        os.replace(tmp, os.path.join(self.path, "_SUCCESS"))
        # Scoped to OUR token subtree only: sweeps this job's failed-attempt
        # leftovers without touching a concurrent writer's staging.
        shutil.rmtree(_stage_dir(self.path, self.token), ignore_errors=True)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
        shutil.rmtree(_stage_dir(self.path, self.token), ignore_errors=True)


class LineSpoolStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options["path"]
        self.token = uuid.uuid4().hex

    def write(self, iterator) -> SpoolCommit:
        return _write_partition(self.path, self.token, iterator)

    def commit(self, messages, batchId: int) -> None:
        # assemble the batch in a hidden dir, then publish with ONE atomic
        # rename keyed by batchId — a checkpoint replay of the same batch
        # replaces the directory instead of appending beside it
        assembly = os.path.join(self.path, f".batch-{batchId}.tmp")
        shutil.rmtree(assembly, ignore_errors=True)
        os.makedirs(assembly)
        total = 0
        for i, m in enumerate(messages):
            if m is None:
                continue
            os.replace(m.staged, os.path.join(assembly, f"part-{i:05d}.txt"))
            total += m.n_rows
        with open(os.path.join(assembly, "_MANIFEST"), "w") as f:
            f.write(f"batch\t{batchId}\ntotal\t{total}\n")
        final = os.path.join(self.path, f"batch={batchId}")
        shutil.rmtree(final, ignore_errors=True)
        os.replace(assembly, final)
        # commit runs only after every task of this batch finished, so any
        # file left in our token subtree is a failed/speculative attempt's
        # orphan — sweep it here so staging cannot grow across batches
        # (r6 advice), scoped to this query's own token.
        shutil.rmtree(_stage_dir(self.path, self.token), ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
        shutil.rmtree(os.path.join(self.path, f".batch-{batchId}.tmp"), ignore_errors=True)
        shutil.rmtree(_stage_dir(self.path, self.token), ignore_errors=True)


class LineSpoolDataSource(DataSource):
    """``format("linespool")`` — register with
    ``spark.dataSource.register(LineSpoolDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "linespool"

    def writer(self, schema, overwrite: bool) -> LineSpoolBatchWriter:
        if len(schema.fields) != 1:
            raise ValueError("linespool expects exactly one (string) column")
        return LineSpoolBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> LineSpoolStreamWriter:
        if len(schema.fields) != 1:
            raise ValueError("linespool expects exactly one (string) column")
        return LineSpoolStreamWriter(self.options)
