"""Open-loop line producer for the socket_ingest workload.

Runs as its own process, separate from the system under test. It dials
the pipeline's listening unix socket with ``--conns`` connections and
sends records on a fixed schedule: each ``rate:seconds`` rung of
``--rungs`` offers ``rate`` records per second for ``seconds`` (rate 0
is a pause). The schedule never waits for the receiver, so a slow
pipeline builds a backlog instead of slowing the offered load.

Each record is ``<seq> <due_us> <payload>``: a global sequence number,
the microsecond epoch time the record was due to be sent, and a payload
derived from the seed and the sequence number (``payload`` below), so a
checker can tell a landed record from an altered one.

With ``--warmup rate:seconds`` an unmeasured warm-up schedule comes
first: its records are numbered from 0, a JSON line with its start time
and record count follows on stdout, and the generator then waits for a
line on stdin before it starts the ladder, whose numbers continue after
the warm-up's. This lets the caller wait until the pipeline has landed
the warm-up before the measured schedule begins.

The last line on stdout is a JSON summary: the ladder's start time, the
records sent (warm-up included) and how late the generator ran behind
its schedule.

    python3 perfbench/socket_gen.py --sock S --seed 1 --rungs 500:3,2000:3
"""

from __future__ import annotations

import argparse
import json
import random
import socket
import sys
import time

TICK_S = 0.005
CONNECT_DEADLINE_S = 60.0
# The schedule starts this long after every connection is up.
LEAD_S = 0.5


def alphabet(seed: int) -> str:
    rng = random.Random(seed)
    chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_"
    return "".join(rng.choice(chars) for _ in range(8192))


def payload(alpha: str, seq: int) -> str:
    """Deterministic payload of 16..63 characters for record ``seq``."""
    off = (seq * 7919) % 8000
    return alpha[off:off + 16 + seq % 48]


def rungs_of(spec: str) -> list[tuple[int, float]]:
    """``"6000:2,24000:5"`` → [(6000, 2.0), (24000, 5.0)]."""
    out = []
    for item in spec.split(","):
        rate, secs = item.split(":")
        out.append((int(rate), float(secs)))
    return out


def rung_starts(start: float, rungs) -> list[float]:
    starts = [start]
    for _, secs in rungs[:-1]:
        starts.append(starts[-1] + secs)
    return starts


def rung_counts(rungs) -> list[int]:
    return [int(round(rate * secs)) for rate, secs in rungs]


def schedule(start: float, rungs, first_seq: int = 0):
    """Yield (seq, due) for every record of the ladder, in due order."""
    seq = first_seq
    for base, (rate, _), n in zip(rung_starts(start, rungs), rungs, rung_counts(rungs)):
        for j in range(n):
            yield seq, base + j / rate
            seq += 1


def connect(path: str, deadline: float) -> socket.socket:
    while True:
        s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            s.connect(path)
            return s
        except (FileNotFoundError, ConnectionRefusedError):
            s.close()
            if time.time() > deadline:
                raise
            time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sock", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rungs", required=True,
                   help="comma-separated rate:seconds pairs, e.g. 6000:2,24000:5")
    p.add_argument("--warmup", help="rate:seconds sent first, before a wait for stdin")
    p.add_argument("--conns", type=int, default=2)
    a = p.parse_args(argv)
    alpha = alphabet(a.seed)

    deadline = time.time() + CONNECT_DEADLINE_S
    conns = [connect(a.sock, deadline) for _ in range(a.conns)]
    lag_max = 0.0
    sent = 0

    def send(pending) -> None:
        nonlocal lag_max, sent
        head = next(pending, None)
        while head is not None:
            now = time.time()
            if head[1] > now:
                time.sleep(min(TICK_S, head[1] - now))
                continue
            lag_max = max(lag_max, now - head[1])
            bufs = [[] for _ in conns]
            while head is not None and head[1] <= now:
                seq, due = head
                bufs[seq % len(conns)].append(
                    f"{seq} {int(due * 1e6)} {payload(alpha, seq)}\n"
                )
                head = next(pending, None)
            for c, b in zip(conns, bufs):
                if b:
                    c.sendall("".join(b).encode())
                    sent += len(b)

    try:
        if a.warmup:
            warm_start = time.time() + LEAD_S
            send(schedule(warm_start, rungs_of(a.warmup)))
            print(json.dumps({"warm_start": warm_start, "warm_sent": sent}), flush=True)
            sys.stdin.readline()
        start = time.time() + LEAD_S
        send(schedule(start, rungs_of(a.rungs), first_seq=sent))
    finally:
        for c in conns:
            c.close()
    print(json.dumps({
        "start": start,
        "sent": sent,
        "lag_max_s": lag_max,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
