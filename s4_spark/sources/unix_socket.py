"""Unix-domain-socket line source as a Spark 4 Python DataSource — the
idiomatic-Spark rebuild of the reference's socket input layer
(/root/reference/input/unix.go:19-34 connect, :49-82 listen,
:89-119 line framing).

Semantics carried over:

- **line framing** (A4): records are newline-delimited; CRLF is
  normalized to LF (``bufio.ScanLines`` behavior, unix.go:93); the
  delimiter itself is NOT part of the record value (Spark text-source
  convention — the reference re-appends "\\n" only because its sink is a
  byte concatenator, unix.go:101-103).
- **multi-producer fan-in** (A2): two spellings. Batch: a
  comma-separated ``path`` of socket paths, one input partition each.
  Streaming: ``mode=listen`` makes the reader the SERVER — it binds the
  socket path and fans every accepted client connection into the one
  spool, exactly as the reference's listen mode fans N connections into
  one river (input/unix.go:49-82, river/river.go:43-47).
- **EOF completion** (A5): a batch read drains each socket until the
  peer closes.
- **durable buffering upgraded to exactly-once** (A7/A14, Appendix B
  fix): the *streaming* reader spools received records into immutable
  chunk files and serves Spark's offset ranges from them, so a restarted
  query replays uncommitted records instead of losing them (the
  reference truncates its buffer before the sink confirms —
  river/liner.go:75-87 — giving at-most-once; here a chunk is deleted
  only in ``commit()``, once Spark has committed every record in it).

The streaming reader is a ``SimpleDataSourceStreamReader``: socket
RECEIVE is a single driver-side thread, which is the reference's own
topology (one endpoint, one listener — input/unix.go:19-34), and
``read(start)`` writes what it received as new chunks of the
record-indexed spool (sources/chunk_spool.py owns the format: chunks of
at most ``CHUNK_LINES`` records, written ``.tmp`` then renamed), then
hands the same records to Spark as Arrow batches. Spark's prefetch path
ships them from the driver-side runner straight to the JVM, so a
micro-batch runs no Python task: the records are already in driver
memory when the offset is reported, and a per-batch executor read of the
spool cost more in Python worker set-up than the read itself. The spool
is read only for replay (``readBetweenOffsets``), after a restart. No
spool byte is ever rewritten: the only writes are new chunks and
deletions of committed chunks. Replay runs as an executor task, so on a
cluster the spool directory must be a shared filesystem.
"""

from __future__ import annotations

import os
import socket
import threading
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from s4_spark.sources.chunk_spool import (
    CHUNK_LINES,
    ack,
    read_range,
    spooled,
    write_chunk,
)

_CONNECT_TIMEOUT_S = 5.0
_POLL_TIMEOUT_S = 0.05


def _frame(buf: bytes, eof: bool) -> tuple[list[str], bytes]:
    """Line framing (A4, ``bufio.ScanLines``, input/unix.go:89-119):
    split ``buf`` into its complete records and the unterminated rest.
    A record ends at ``\\n``, a ``\\r`` before it is dropped, and bytes
    decode as UTF-8 with replacement. At ``eof`` the rest is one last
    record (bufio.Scanner emits the final unterminated token too)."""
    *lines, rest = buf.split(b"\n")
    if eof and rest:
        lines.append(rest)
        rest = b""
    return [ln.removesuffix(b"\r").decode("utf-8", "replace") for ln in lines], rest


def _read_lines_until_eof(sock_path: str) -> Iterator[str]:
    """Connect (A1) and yield framed lines until the peer closes (A5)."""
    with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
        s.settimeout(_CONNECT_TIMEOUT_S)
        s.connect(sock_path)
        buf = b""
        while True:
            try:
                chunk = s.recv(65536)
            except socket.timeout:
                chunk = b""
            lines, buf = _frame(buf + chunk, eof=not chunk)
            yield from lines
            if not chunk:
                return


class _SocketPartition(InputPartition):
    def __init__(self, sock_path: str):
        self.sock_path = sock_path


class _UnixLineBatchReader(DataSourceReader):
    def __init__(self, paths: list[str]):
        self._paths = paths

    def partitions(self):
        return [_SocketPartition(p) for p in self._paths]

    def read(self, partition: _SocketPartition) -> Iterator[Tuple]:
        for line in _read_lines_until_eof(partition.sock_path):
            yield (line,)


class _SpoolingStreamReader(SimpleDataSourceStreamReader):
    """Socket receiver + durable chunk spool, serving every micro-batch
    from the driver.

    Offsets are GLOBAL record indexes (monotone across the query's
    lifetime), the spool's own (sources/chunk_spool.py).

    A background thread receives from the socket (client ``connect`` or
    server ``listen`` fan-in). ``read(start)`` writes whatever the thread
    has buffered as new chunks — durable BEFORE the offset is reported
    (write-ahead; the reference's emit-then-persist order is Appendix B's
    loss bug) — and returns those records with the spooled count. Spark
    caches them until the batch is planned, so the spool is not read
    back. Records spooled by a crashed incarnation but never planned
    into a batch are counted at init (the largest chunk ``hi``), and a
    ``read`` from below that count serves them from the chunks first.

    ``readBetweenOffsets(start, end)`` is restart replay of a batch the
    engine planned but did not commit; it reads the chunks, on an
    executor.

    ``commit(end)`` acks the spool: the chunks Spark has fully committed
    go, except the newest, so a reader re-created over a drained spool
    still starts at the spooled count, not 0.

    pyspark's wrapper around a simple reader never calls ``stop()``: the
    receiver's daemon threads, and the socket they hold, end with the
    runner process that Spark stops with the query."""

    def __init__(self, sock_path: str, spool_dir: str, listen: bool = False):
        self._sock_path = sock_path
        self._spool_dir = spool_dir
        self._listen = listen
        os.makedirs(spool_dir, exist_ok=True)
        # a ``.tmp`` is a chunk whose write a crash interrupted before
        # its offset was reported: never planned, so never owed
        for f in os.listdir(spool_dir):
            if f.endswith(".tmp"):
                os.unlink(os.path.join(spool_dir, f))
        self._spooled = spooled(spool_dir)
        self._lock = threading.Lock()
        self._lines: list[str] = []
        self._receiver: threading.Thread | None = None
        self._stop = threading.Event()

    # The reader is pickled to the executors that serve a replay;
    # thread/lock/socket state must not travel, and the executor copy
    # must not trust driver-side counters (they go stale the moment the
    # driver spools more) — readBetweenOffsets uses ONLY the chunk files.
    def __getstate__(self):
        state = self.__dict__.copy()
        for k in ("_receiver", "_stop", "_lock", "_lines"):
            state.pop(k, None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()
        self._lines = []
        self._receiver = None
        self._stop = threading.Event()

    # -- background receive loop (the reference's Flow goroutine,
    #    river/river.go:33, as a thread feeding the spool) ---------------
    def _ensure_receiver(self) -> None:
        if self._receiver is not None:
            return
        target = self._accept_loop if self._listen else self._recv_loop
        self._receiver = threading.Thread(target=target, daemon=True)
        self._receiver.start()

    def _drain_conn(self, s: socket.socket) -> None:
        """Frame lines from one connection into the shared buffer until
        the peer closes or the reader stops (input/unix.go:89-119)."""
        buf = b""
        while not self._stop.is_set():
            try:
                chunk = s.recv(65536)
            except socket.timeout:
                continue
            except OSError:
                chunk = b""
            lines, buf = _frame(buf + chunk, eof=not chunk)
            if lines:
                with self._lock:
                    self._lines.extend(lines)
            if not chunk:
                return

    def _drain_then_close(self, conn: socket.socket) -> None:
        """Accepted-connection wrapper: the fd is closed even when the
        reader stops mid-drain (previously leaked until process exit)."""
        try:
            self._drain_conn(conn)
        finally:
            conn.close()

    def _recv_loop(self) -> None:
        try:
            with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
                s.settimeout(_CONNECT_TIMEOUT_S)
                s.connect(self._sock_path)
                s.settimeout(_POLL_TIMEOUT_S)
                self._drain_conn(s)
        except OSError:
            pass  # connection refused/lost: offsets keep serving the spool

    def _accept_loop(self) -> None:
        """Listen-mode fan-in (A2): bind the socket path, accept every
        client, and drain each concurrently into the ONE shared buffer —
        the reference's server mode (input/unix.go:49-82 accepts in a
        loop; river/river.go:43-47 merges all connections into one
        river). Interleaving across producers is arbitrary, exactly as
        in the reference."""
        try:
            if os.path.exists(self._sock_path):
                # Only reclaim a STALE path. If a live process (another
                # query, or the reference server itself) still owns the
                # socket, a connect succeeds — destroying its endpoint
                # with unlink would be silent sabotage; refuse instead.
                probe = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
                try:
                    probe.settimeout(_POLL_TIMEOUT_S)
                    probe.connect(self._sock_path)
                    # RuntimeError on purpose: the enclosing OSError handler
                    # must NOT swallow this — the refusal should surface as
                    # the receiver thread's traceback, not a silent no-op.
                    raise RuntimeError(
                        f"socket path {self._sock_path} is owned by a live "
                        "process; refusing to bind over it"
                    )
                except ConnectionRefusedError:
                    # Nothing is accepting: genuinely stale leftover. The
                    # unlink can still race a concurrent cleanup — a
                    # missing path at that point is the outcome we wanted.
                    try:
                        os.unlink(self._sock_path)
                    except FileNotFoundError:
                        pass
                except FileNotFoundError:
                    pass  # vanished between exists() and connect(): free
                except socket.timeout:
                    # A saturated-backlog listener times the probe out
                    # while very much alive; unlinking here would destroy
                    # a live endpoint (ADVICE r4). Timeout ⇒ assume live.
                    raise RuntimeError(
                        f"socket path {self._sock_path} did not answer the "
                        "liveness probe in time; assuming a live (busy) "
                        "owner and refusing to bind over it"
                    ) from None
                finally:
                    probe.close()
            with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as srv:
                srv.bind(self._sock_path)
                srv.listen(64)
                srv.settimeout(_POLL_TIMEOUT_S)
                while not self._stop.is_set():
                    try:
                        conn, _ = srv.accept()
                    except socket.timeout:
                        continue
                    conn.settimeout(_POLL_TIMEOUT_S)
                    threading.Thread(
                        target=self._drain_then_close, args=(conn,), daemon=True
                    ).start()
        except OSError:
            pass

    # -- Spark contract ---------------------------------------------------
    def initialOffset(self) -> dict:
        self._ensure_receiver()
        return {"index": self._spooled}

    def read(self, start: dict):
        """Write the receiver buffer as new chunks, then return its
        records, one Arrow batch per chunk, with the spooled count as the
        end offset. Records become visible to planning only AFTER they
        are durable (write-ahead) — a crash before the return re-plans
        them from the spool at next init, so nothing is lost and nothing
        is double-planned."""
        import pyarrow as pa

        self._ensure_receiver()
        with self._lock:
            fresh, self._lines = self._lines, []
        batches = []
        if start["index"] < self._spooled:  # spooled, never planned
            batches = list(self.readBetweenOffsets(start, {"index": self._spooled}))
        for i in range(0, len(fresh), CHUNK_LINES):
            lines = fresh[i : i + CHUNK_LINES]
            self._spooled = write_chunk(self._spool_dir, self._spooled, lines)
            batches.append(
                pa.RecordBatch.from_arrays([pa.array(lines, pa.string())], ["value"])
            )
        # a list iterator, not a generator: Spark copies the cached one
        return iter(batches), {"index": self._spooled}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay [start, end) from the chunks alone (``read_range``: a
        range the chunks do not cover, or a chunk holding fewer records
        than its name says after retries, raises — a truncated chunk, an
        unsynced write an OS crash lost after its offset was
        checkpointed, must not turn into silently missing rows)."""
        return read_range(self._spool_dir, start["index"], end["index"])

    def commit(self, end: dict) -> None:
        ack(self._spool_dir, end["index"])

    def stop(self) -> None:
        self._stop.set()


class UnixLineDataSource(DataSource):
    """``format("s4_unixline")``: newline-framed records from unix domain
    sockets. Options:

    - ``path``: socket path; comma-separated for multi-socket fan-in
      (batch mode only — streaming reads one socket per query).
    - ``spoolDir``: (streaming) directory for the durable chunk spool;
      defaults next to the socket path. On a cluster this must be a
      shared filesystem — restart replay reads the chunks on an executor
    - ``mode``: (streaming) ``connect`` (default) dials the path as a
      client (reference A1); ``listen`` binds the path as the SERVER and
      fans every accepted client connection into the one stream
      (reference A2 listen-mode fan-in).

    Register once per session::

        spark.dataSource.register(UnixLineDataSource)
        df = spark.read.format("s4_unixline").option("path", sock).load()
    """

    @classmethod
    def name(cls) -> str:
        return "s4_unixline"

    def schema(self) -> str:
        return "value string"

    def _paths(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' (unix socket path) is required")
        return [p for p in path.split(",") if p]

    def reader(self, schema) -> _UnixLineBatchReader:
        return _UnixLineBatchReader(self._paths())

    def simpleStreamReader(self, schema) -> _SpoolingStreamReader:
        paths = self._paths()
        if len(paths) != 1:
            raise ValueError("streaming reads exactly one socket per query")
        spool = self.options.get("spooldir") or paths[0] + ".spool"
        mode = self.options.get("mode", "connect")
        if mode not in ("connect", "listen"):
            raise ValueError(f"mode must be 'connect' or 'listen', got {mode!r}")
        return _SpoolingStreamReader(paths[0], spool, listen=(mode == "listen"))
