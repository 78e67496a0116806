"""The durable chunk spool, and the ``chunkspool`` streaming source over
one an outside producer writes.

A spool is a directory of immutable chunk files:
``chunk-{lo:020d}-{hi:020d}.txt`` holds the records with GLOBAL indexes
[lo, hi), one ``\\n``-terminated line each. Offsets are record indexes
(``{"index": N}``, checkpointed by Spark), and any range replays from
the chunks alone. Writers only ADD chunks above the newest, as ``.tmp``
then rename. This module is the one place that knows the format:
``write_chunk``, ``list_chunks``/``spooled``, ``read_range`` (Arrow
batches of at most ``CHUNK_LINES`` rows; each chunk's record count is
checked against its name with retries, and a short chunk or a gap
raises rather than dropping rows; one chunk is held in memory at a
time) and ``ack`` (delete the committed chunks except the newest, whose
``hi`` is where a reader re-created over a drained spool starts: the
reference's drain-after-flush, keyed by Spark's committed offset
instead of its delete-before-send race, SURVEY.md Appendix B).

sources/unix_socket.py's ``s4_unixline`` reader spools what its socket
receives through these helpers. The ``chunkspool`` source plans ONE
InputPartition PER CHUNK, clipped to the batch's range, so executors
read chunks in parallel; it never deletes a ``.tmp`` (a producer's
write in flight). On a cluster, ``path`` must be a shared filesystem.
"""

from __future__ import annotations

import itertools
import os
import re
import time
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

# Records per chunk the socket spool writes, and rows per Arrow batch a
# chunk read yields however large a producer's chunk is.
CHUNK_LINES = 8192
_CHUNK_RE = re.compile(r"chunk-(\d{20})-(\d{20})\.txt")


def chunk_name(lo: int, hi: int) -> str:
    return f"chunk-{lo:020d}-{hi:020d}.txt"


def list_chunks(path: str) -> list[tuple[int, int]]:
    """The spool's chunks as sorted ``(lo, hi)`` record ranges."""
    return sorted(
        (int(m.group(1)), int(m.group(2)))
        for m in map(_CHUNK_RE.fullmatch, os.listdir(path))
        if m
    )


def spooled(path: str) -> int:
    """Records the spool has ever held: the newest chunk's ``hi``."""
    chunks = list_chunks(path)
    return chunks[-1][1] if chunks else 0


def write_chunk(path: str, lo: int, lines: list[str]) -> int:
    """Spool ``lines`` as the chunk [lo, hi) and return ``hi``. The
    chunk is written as ``.tmp`` and renamed, so no reader lists it
    before it is whole."""
    hi = lo + len(lines)
    name = os.path.join(path, chunk_name(lo, hi))
    with open(name + ".tmp", "w", encoding="utf-8", newline="\n") as f:
        f.writelines(ln + "\n" for ln in lines)
    os.replace(name + ".tmp", name)
    return hi


def line_batches(path: str) -> Iterator:
    """Yield the ``\\n``-framed lines of ``path`` as one-column
    (``value string``) Arrow RecordBatches of at most ``CHUNK_LINES``
    rows. Only ``\\n`` ends a line (no universal-newline translation),
    so a record's own ``\\r`` survives the round trip. Arrow batches ship
    to the JVM as one buffer each; per-row tuples are pickled one by one."""
    import pyarrow as pa

    with open(path, encoding="utf-8", newline="\n") as f:
        while vals := [ln.rstrip("\n") for ln in itertools.islice(f, CHUNK_LINES)]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals, pa.string())], names=["value"]
            )


def _cover(path: str, lo: int, hi: int) -> list[tuple[int, int, int, int]]:
    """``(chunk lo, chunk hi, from, to)`` for each chunk holding part of
    [lo, hi), in order, with [from, to) the part; IOError on a gap."""
    out, at = [], lo
    for c_lo, c_hi in list_chunks(path):
        if at >= hi or c_lo > at:
            break
        if c_hi > at:
            out.append((c_lo, c_hi, at, min(c_hi, hi)))
            at = min(c_hi, hi)
    if at < hi:
        raise IOError(
            f"spool {path} has no chunk for record {at} of the range [{lo}, {hi})"
        )
    return out


def _chunk(path: str, lo: int, hi: int) -> list:
    """Chunk [lo, hi) as Arrow batches, or IOError if it stays short."""
    name = os.path.join(path, chunk_name(lo, hi))
    for attempt in range(5):
        try:
            batches = list(line_batches(name))
        except FileNotFoundError:
            batches = []
        if sum(b.num_rows for b in batches) == hi - lo:
            return batches
        time.sleep(0.05 * (attempt + 1))
    raise IOError(
        f"spool chunk {name} is missing or truncated: it does not hold "
        f"its {hi - lo} records — failing the task rather than dropping rows"
    )


def read_range(path: str, lo: int, hi: int) -> Iterator:
    """Records [lo, hi) of the spool as Arrow batches of at most
    ``CHUNK_LINES`` rows, each chunk verified before any of its rows is
    yielded."""
    import pyarrow as pa

    for c_lo, c_hi, a, b in _cover(path, lo, hi):
        chunk = pa.Table.from_batches(_chunk(path, c_lo, c_hi))
        yield from chunk.slice(a - c_lo, b - a).to_batches(CHUNK_LINES)


def ack(path: str, end: int) -> None:
    """Delete the chunks committed through record ``end``, except the
    newest. A committed chunk is never read again, so a delete cannot
    race an in-flight read."""
    for lo, hi in list_chunks(path)[:-1]:
        if hi <= end:
            os.unlink(os.path.join(path, chunk_name(lo, hi)))


@dataclass
class ChunkPartition(InputPartition):
    path: str
    lo: int
    hi: int


class ChunkSpoolStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]

    def initialOffset(self) -> dict:
        chunks = list_chunks(self.path)
        return {"index": chunks[0][0] if chunks else 0}

    def latestOffset(self) -> dict:
        return {"index": spooled(self.path)}

    def partitions(self, start: dict, end: dict):
        return [
            ChunkPartition(self.path, a, b)
            for _, _, a, b in _cover(self.path, start["index"], end["index"])
        ]

    def read(self, partition: ChunkPartition):
        yield from read_range(partition.path, partition.lo, partition.hi)

    def commit(self, end: dict) -> None:
        ack(self.path, end["index"])


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
