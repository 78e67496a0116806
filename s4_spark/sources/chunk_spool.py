"""Chunked-spool streaming source with REAL offset management — the
full Spark 4 Python DataSource streaming protocol. The chunks come from
an outside producer, so a batch's records are on disk, not in driver
memory (unlike sources/unix_socket.py, which serves its batches from
the driver):

- offsets are explicit dicts ({"chunk": N}), persisted by Spark's
  checkpoint like any V2 source offset;
- ``partitions(start, end)`` fans each micro-batch into ONE
  InputPartition PER CHUNK, so executors read chunks in parallel
  (a SimpleDataSourceStreamReader would prefetch single-threaded on
  the driver);
- ``commit(end)`` deletes chunks at-or-below the committed offset,
  except the newest, which keeps ``latestOffset`` from regressing once
  the spool is drained — the drain/ack semantics of the reference's
  durable buffer (records leave the spool only after the downstream
  flush commits), but keyed by Spark's own checkpointed offset instead
  of a delete-before-send race (SURVEY.md Appendix B's do-not-replicate
  loss bug). sources/unix_socket.py acks its spool by the same rule.

Chunk files are ``chunk-NNNNNNNN.txt`` under ``path``, one
``\\n``-terminated line per record, appended by any producer; the
committed prefix is immutable by contract (the producer only ever ADDS
higher-numbered chunks). On a cluster, ``path`` must be a shared
filesystem. Scale: a micro-batch over K new chunks is K parallel file
reads; offsets are O(1) ints.

``line_batches`` is the one chunk-file reader: sources/unix_socket.py's
spool chunks go through it too.
"""

from __future__ import annotations

import itertools
import os
import re
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

_CHUNK_RE = re.compile(r"chunk-(\d{8})\.txt$")
# Rows per Arrow batch a chunk read yields: bounds a Python worker's
# memory however large a producer chunk is.
BATCH_LINES = 8192


def line_batches(path: str, size: int = BATCH_LINES) -> Iterator:
    """Yield the ``\\n``-framed lines of ``path`` as one-column
    (``value string``) Arrow RecordBatches of at most ``size`` rows.
    Only ``\\n`` ends a line (no universal-newline translation), so a
    record's own ``\\r`` survives the round trip. Arrow batches ship to
    the JVM as one buffer each; per-row tuples are pickled one by one."""
    import pyarrow as pa

    with open(path, encoding="utf-8", newline="\n") as f:
        while vals := [ln.rstrip("\n") for ln in itertools.islice(f, size)]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals, pa.string())], names=["value"]
            )


def chunk_path(path: str, i: int) -> str:
    return os.path.join(path, f"chunk-{i:08d}.txt")


def _list_chunks(path: str) -> list[int]:
    out = []
    for name in os.listdir(path):
        m = _CHUNK_RE.search(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


@dataclass
class ChunkPartition(InputPartition):
    chunk: int
    path: str


class ChunkSpoolStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]

    def initialOffset(self) -> dict:
        return {"chunk": -1}

    def latestOffset(self) -> dict:
        chunks = _list_chunks(self.path)
        return {"chunk": chunks[-1] if chunks else -1}

    def partitions(self, start: dict, end: dict):
        return [
            ChunkPartition(chunk=i, path=self.path)
            for i in range(start["chunk"] + 1, end["chunk"] + 1)
            if os.path.exists(chunk_path(self.path, i))
        ]

    def read(self, partition: ChunkPartition):
        yield from line_batches(chunk_path(partition.path, partition.chunk))

    def commit(self, end: dict) -> None:
        for i in _list_chunks(self.path)[:-1]:
            if i <= end["chunk"]:
                try:
                    os.remove(chunk_path(self.path, i))
                except FileNotFoundError:
                    pass

    def stop(self) -> None:
        pass


class ChunkSpoolDataSource(DataSource):
    """``format("chunkspool")`` — register with
    ``spark.dataSource.register(ChunkSpoolDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "chunkspool"

    def schema(self) -> str:
        return "value string"

    def streamReader(self, schema) -> ChunkSpoolStreamReader:
        return ChunkSpoolStreamReader(self.options)
