"""Riemann load generator for the ``live_alerts`` workload.

Runs as its own process, separate from the system under test. All
frames are built from the seed and encoded before any is sent; only
the 8-byte ``time_micros`` varint of each event is patched at send
time with the event's creation stamp. Commands arrive on stdin, one
per line, and each answer is one JSON line on stdout:

- ``warm``          one frame, closed loop
- ``A <t0_us>``     open loop: frame k is due at t0 + k * frame / rate
- ``B``             closed loop: next frame as soon as the ack returns
- ``quit``

Each host always travels on the same connection, so every host's
events reach the server in creation order.

Usage (normally started by ``run.py``):
  python3 perfbench/riemann_gen.py --port P --seed N --hosts H \\
      --conns C --frame F --rate R --seconds S --b-events B
"""

from __future__ import annotations

import argparse
import json
import socket
import struct
import sys
import threading
import time

import numpy as np

OK_MSG = b"\x10\x01"
PHASE_SERVICE = {"warm": "w", "A": "a", "B": "b"}
_PHASE_CODE = {"warm": 0, "A": 1, "B": 2}


def host_name(h: int) -> str:
    return f"host-{h:07d}"


def phase_plan(seed: int, phase: str, hosts: int, conns: int, frame: int, n_frames: int):
    """(host index, metric) arrays of shape (n_frames, frame) for one
    phase. Frame k travels on connection k % conns and carries only
    hosts h with h % conns == k % conns."""
    rng = np.random.default_rng([seed, _PHASE_CODE[phase]])
    per_conn = hosts // conns
    conn = (np.arange(n_frames) % conns)[:, None]
    host = conn + conns * rng.integers(0, per_conn, size=(n_frames, frame))
    metric = rng.integers(0, 10000, size=(n_frames, frame)) / 100.0
    return host, metric


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# any stamp in [2**49, 2**56) microseconds (years 1987..4253) is an
# 8-byte varint, so a placeholder can be overwritten in place
_STAMP_PLACEHOLDER = 1 << 50


def encode_frame(hosts, metrics, service: str) -> tuple[bytearray, list[int]]:
    """Length-prefixed Riemann ``Msg`` and the offset of each event's
    time_micros varint inside it."""
    svc = service.encode()
    stamp = _varint(_STAMP_PLACEHOLDER)
    body = bytearray()
    offsets = []
    for h, m in zip(hosts.tolist(), metrics.tolist()):
        host = host_name(h).encode()
        ev = (
            b"\x22" + bytes([len(host)]) + host  # host = 4
            + b"\x1a" + bytes([len(svc)]) + svc  # service = 3
            + b"\x50"  # time_micros = 10, varint
        )
        at = len(body) + 2 + len(ev)  # after Msg.events key + length byte
        ev += stamp + b"\x71" + struct.pack("<d", m)  # metric_d = 14, fixed64
        body += b"\x32" + bytes([len(ev)]) + ev  # Msg.events = 6
        offsets.append(at + 4)  # after the frame's length prefix
    return bytearray(struct.pack(">I", len(body))) + body, offsets


def stamp_frame(buf: bytearray, offsets: list[int], t_us: int) -> None:
    """Event j of the frame is created at t_us + j."""
    for j, at in enumerate(offsets):
        buf[at : at + 8] = _varint(t_us + j)


def _read_ack(sock: socket.socket) -> bytes:
    def exact(n):
        data = b""
        while len(data) < n:
            chunk = sock.recv(n - len(data))
            if not chunk:
                raise ConnectionError("server closed the connection")
            data += chunk
        return data

    (n,) = struct.unpack(">I", exact(4))
    return exact(n)


class Generator:
    def __init__(self, args):
        self.args = args
        self.socks = [
            socket.create_connection(("127.0.0.1", args.port), timeout=60)
            for _ in range(args.conns)
        ]
        for s in self.socks:
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.n_a = max(int(round(args.rate * args.seconds / args.frame)), args.conns)
        self.n_b = max(args.b_events // args.frame, args.conns)
        self.frames = {
            "warm": self._encode("warm", 1),
            "A": self._encode("A", self.n_a),
            "B": self._encode("B", self.n_b),
        }

    def _encode(self, phase, n_frames):
        a = self.args
        host, metric = phase_plan(a.seed, phase, a.hosts, a.conns, a.frame, n_frames)
        return [encode_frame(host[k], metric[k], PHASE_SERVICE[phase]) for k in range(n_frames)]

    def _per_conn(self, fn):
        threads = [
            threading.Thread(target=fn, args=(c,), name=f"conn-{c}")
            for c in range(self.args.conns)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def closed_loop(self, phase: str) -> dict:
        frames = self.frames[phase]
        stamps = [0] * len(frames)
        nacks = [0]
        first = [None]
        lock = threading.Lock()

        def run(c):
            sock = self.socks[c]
            last = 0
            for k in range(c, len(frames), self.args.conns):
                buf, offsets = frames[k]
                t_us = max(time.time_ns() // 1000, last + len(offsets))
                stamp_frame(buf, offsets, t_us)
                stamps[k] = last = t_us
                with lock:
                    if first[0] is None:
                        first[0] = time.time()
                sock.sendall(buf)
                if _read_ack(sock) != OK_MSG:
                    with lock:
                        nacks[0] += 1

        self._per_conn(run)
        return {"stamps": stamps, "nacks": nacks[0], "first_send": first[0],
                "done": time.time()}

    def open_loop(self, t0_us: int) -> dict:
        frames = self.frames["A"]
        interval_us = self.args.frame * 1e6 / self.args.rate
        late_us = [0.0] * len(frames)
        ack_us = [0.0] * len(frames)
        nacks = [0]
        lock = threading.Lock()

        def send(c):
            sock = self.socks[c]
            for k in range(c, len(frames), self.args.conns):
                due = t0_us + int(k * interval_us)
                wait = due / 1e6 - time.time()
                if wait > 0:
                    time.sleep(wait)
                buf, offsets = frames[k]
                stamp_frame(buf, offsets, due)
                late_us[k] = time.time_ns() / 1000 - due
                sock.sendall(buf)

        def recv(c):
            sock = self.socks[c]
            for k in range(c, len(frames), self.args.conns):
                ok = _read_ack(sock) == OK_MSG
                # timed from when the frame was due, not when it went out
                ack_us[k] = time.time_ns() / 1000 - (t0_us + int(k * interval_us))
                if not ok:
                    with lock:
                        nacks[0] += 1

        threads = [
            threading.Thread(target=fn, args=(c,))
            for c in range(self.args.conns)
            for fn in (send, recv)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return {
            "frames": len(frames),
            "interval_us": interval_us,
            "late_p99_ms": float(np.percentile(late_us, 99)) / 1e3,
            "ack_p99_ms": float(np.percentile(ack_us, 99)) / 1e3,
            "nacks": nacks[0],
            "done": time.time(),
        }

    def close(self):
        for s in self.socks:
            s.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    for name in ("port", "seed", "hosts", "conns", "frame", "b-events"):
        ap.add_argument(f"--{name}", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)
    gen = Generator(args)

    def say(obj):
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    say({"ready": True, "a_frames": gen.n_a, "b_frames": gen.n_b})
    try:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd or cmd[0] == "quit":
                break
            if cmd[0] == "A":
                say({"A": gen.open_loop(int(cmd[1]))})
            else:
                say({cmd[0]: gen.closed_loop(cmd[0])})
    finally:
        gen.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
