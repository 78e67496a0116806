"""Mock unix-socket servers — the reference's test fixtures rebuilt
(/root/reference/test/tool.go:44-69 UnixTestServer, :109-147
MockUnixEchoServer): deterministic producers for exercising the socket
source in tests and check queries — plus the one producer client for a
listen-mode source, :func:`send_when_bound`."""

from __future__ import annotations

import os
import socket
import threading
import time


def send_when_bound(sock_path: str, payload: bytes, timeout: float) -> None:
    """Connect to the listener at ``sock_path`` — retrying until it has
    bound (a listen-mode source binds on its first read, and a stale
    socket file refuses connections until the reader reclaims it) —
    send ``payload`` and close. Raises TimeoutError when nothing accepts
    within ``timeout`` s."""
    deadline = time.monotonic() + timeout
    while True:
        conn = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            conn.connect(sock_path)
        except OSError as e:
            conn.close()
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"no listener bound {sock_path} within {timeout} s"
                ) from e
            time.sleep(0.05)
            continue
        with conn:
            conn.sendall(payload)
        return


def serve_payload_forever(sock_path: str, payload: bytes) -> threading.Thread:
    """Daemon server: send ``payload`` to every accepted connection, then
    close it. Idempotent across any number of reads — a re-run of the
    consuming query re-reads the same records (unlike the reference's
    one-shot fixtures, which made its tests order-dependent)."""
    if os.path.exists(sock_path):
        os.unlink(sock_path)
    srv = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    srv.bind(sock_path)
    srv.listen(8)

    def run() -> None:
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            try:
                conn.sendall(payload)
            except OSError:
                pass
            finally:
                conn.close()

    th = threading.Thread(target=run, daemon=True)
    th.start()
    return th
