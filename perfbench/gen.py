#!/usr/bin/env python3
"""Open-loop OCS feed generator for the ingest benchmark.

Single-threaded. Opens `--conns` TCP connections to the graft-multisocket
listener, each bound to a local port derived from the seed. The source keys
connections by `ip:port`, so the ports decide which of the `--partitions`
shuffle partitions each connection's framing state and puts land in; see
`port_sets` for how the placement is held fixed. Sends newline-terminated
packets of EOT-delimited OCS-shaped frames on a fixed schedule that does not
slow down when the receiver does.

Every frame carries its own scheduled time (epoch microseconds): the time
the packet holding its terminating EOT was due. Latency is measured from
that stamp, so a stall is charged to every frame due during it. Every 30th
message of a connection is `HEARTBEAT` (the fake OCS source's cadence).

Frame layout (comma separated):
    <msg index>,TMOV,<conn index>,<scheduled us>,<seeded vehicle fields>

With `--fpp N` each packet holds N frame terminators. With `--straddle`
each packet boundary falls at a seeded offset inside a frame, so that frame
is split across two packets and the framer's buffer carry is exercised.

Protocol: prints `READY <port,port,...>` once connected, waits for the
epoch time `--t0-ns`, runs the `--phases` schedule (`rate:seconds,...`,
rates in messages per second over all connections), stops early when a
line `stop` arrives on stdin, then prints one JSON summary line.
"""
import argparse
import json
import os
import random
import select
import socket
import sys
import time

EOT = "\x04"
HEARTBEAT_EVERY = 30
M32 = 0xFFFFFFFF


def _rotl(x, r):
    return ((x << r) | (x >> (32 - r))) & M32


def _mix(h, k):
    k = _rotl((k * 0xCC9E2D51) & M32, 15) * 0x1B873593 & M32
    return (_rotl(h ^ k, 13) * 5 + 0xE6546B64) & M32


def spark_hash(s, seed=42):
    """Spark's `hash()` of a string column (Murmur3 x86_32 with Spark's
    byte-at-a-time tail), which places a key on a hash partition."""
    b = s.encode()
    n = len(b)
    h = seed
    for i in range(0, n - n % 4, 4):
        h = _mix(h, int.from_bytes(b[i:i + 4], "little"))
    for i in range(n - n % 4, n):
        h = _mix(h, (b[i] - 256 if b[i] > 127 else b[i]) & M32)
    h ^= n
    h = (h ^ (h >> 16)) * 0x85EBCA6B & M32
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & M32
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def placement(ports, partitions):
    return [spark_hash(f"127.0.0.1:{p}") % partitions for p in ports]


def port_sets(seed, n, partitions):
    """Seeded sets of `n` local ports (outside the kernel's ephemeral range)
    whose connection keys place exactly one pair of connections on a shared
    hash partition and every other connection alone: the most likely
    placement of 4 random keys over 4 or 8 partitions. Fixing the pattern
    keeps placement from swinging the figures between seeds."""
    rng = random.Random(seed * 1000003 + 17)
    while True:
        ports = rng.sample(range(20000, 30000), n)
        counts = {}
        for q in placement(ports, partitions):
            counts[q] = counts.get(q, 0) + 1
        pattern = sorted(counts.values(), reverse=True)
        if partitions < n - 1 or n < 2 or pattern == [2] + [1] * (n - 2):
            yield ports


def connect(port, n, seed, partitions):
    for ports in port_sets(seed, n, partitions):
        socks = []
        try:
            for lp in ports:
                s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
                socks.append(s)
                # Rebinding a port still in TIME_WAIT from the last run.
                s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
                s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                s.bind(("127.0.0.1", lp))
                s.connect(("127.0.0.1", port))
            return socks
        except OSError:  # a port in use: draw the next set
            for s in socks:
                s.close()


class Conn:
    """One feed: its frame stream, cut into packets on a fixed schedule."""

    def __init__(self, idx, seed, fpp, straddle):
        rng = random.Random(seed * 7919 + idx)
        self.idx = idx
        self.fpp = fpp
        self.cut = rng.randrange(1, 12) if straddle else 0
        self.vehicle = f"{rng.randrange(1000, 9999)},W,{rng.choice(['RED', 'ORANGE', 'BLUE', 'GREEN'])}"
        self.next_msg = 0  # index of the next message not yet started
        self.tail = ""  # rest of a frame split at the last boundary
        self.sent = 0  # messages whose terminating EOT was sent

    def message(self, i, sched_us):
        if (i + 1) % HEARTBEAT_EVERY == 0:
            return "HEARTBEAT"
        return f"{i},TMOV,{self.idx},{sched_us},{self.vehicle}"

    def packet(self, sched_us, next_sched_us):
        """The packet due at `sched_us`, holding exactly `fpp` EOTs. A frame
        split at the end is stamped `next_sched_us`, when its EOT is due."""
        parts = [self.tail] if self.tail else []
        i = self.next_msg
        for _ in range(self.fpp - len(parts)):
            parts.append(self.message(i, sched_us) + EOT)
            i += 1
        self.tail = ""
        if self.cut:
            nxt = self.message(i, next_sched_us) + EOT
            k = min(self.cut, len(nxt) - 1)
            parts.append(nxt[:k])
            self.tail = nxt[k:]
            i += 1
        self.next_msg = i
        self.sent += self.fpp
        return "".join(parts) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--conns", type=int, required=True)
    ap.add_argument("--partitions", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--fpp", type=int, default=1)
    ap.add_argument("--straddle", action="store_true")
    ap.add_argument("--phases", required=True)
    ap.add_argument("--t0-ns", type=int, required=True)
    a = ap.parse_args()

    phases = [(float(r), float(d)) for r, d in (p.split(":") for p in a.phases.split(","))]
    ends, t = [], a.t0_ns
    for _, d in phases:
        t += int(d * 1e9)
        ends.append(t)

    socks = connect(a.port, a.conns, a.seed, a.partitions)
    print("READY " + ",".join(str(s.getsockname()[1]) for s in socks), flush=True)
    conns = [Conn(i, a.seed, a.fpp, a.straddle) for i in range(a.conns)]

    def interval_ns(t_ns):
        for (rate, _), end in zip(phases, ends):
            if t_ns < end:
                return int(1e9 * a.fpp * a.conns / rate)
        return None

    # Connections are offset by a fraction of their interval so packets
    # arrive spread out rather than in bursts of `conns`.
    first = interval_ns(a.t0_ns)
    nxt = [a.t0_ns + first * i // a.conns for i in range(a.conns)]
    late = []
    last_poll = 0
    while True:
        now = time.time_ns()
        if now - last_poll > 50_000_000:
            last_poll = now
            if select.select([sys.stdin], [], [], 0)[0]:
                line = sys.stdin.readline()
                if line == "" or line.strip() == "stop":
                    break
        done = True
        for c, s in zip(conns, socks):
            due = nxt[c.idx]
            if due is None:
                continue
            done = False
            if due > now:
                continue
            buf = []
            while due is not None and due <= now:
                iv = interval_ns(due)
                if iv is None:
                    due = None
                    break
                after = due + iv
                buf.append(c.packet(due // 1000, after // 1000))
                late.append(now - due)
                due = after if interval_ns(after) is not None else None
            nxt[c.idx] = due
            s.sendall("".join(buf).encode())
        if done:
            break
        pending = [d for d in nxt if d is not None]
        if pending:
            wait = (min(pending) - time.time_ns()) / 1e9
            if wait > 0:
                time.sleep(min(wait, 0.05))

    late.sort()
    n = len(late)
    summary = {
        "sent": [c.sent for c in conns],
        "ports": [s.getsockname()[1] for s in socks],
        "packets": n,
        "late_ms_p99": late[min(n - 1, int(0.99 * n))] / 1e6 if n else 0.0,
        "late_ms_max": late[-1] / 1e6 if n else 0.0,
    }
    # A graceful close: the kernel still delivers what back-pressure left
    # in the send buffers (a reset would drop frames counted as sent).
    for s in socks:
        s.shutdown(socket.SHUT_WR)
        s.close()
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    sys.exit(main())
