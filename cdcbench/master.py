"""Loopback MySQL replication master for the open-loop ``tail`` workload.

Run as its own process::

    python3 cdcbench/master.py --seed 7 --events-per-s 400

It prints one JSON line ``{"port", "file", "start_pos"}`` once it
listens on 127.0.0.1, then, from ``go`` on, grows a binlog on a fixed schedule: the
transaction due at ``t0 + i / rate`` is appended as soon as the
generator thread sees its due time has passed, whether or not any
client keeps up, and each row carries that due time (``created_us``).

It speaks the public protocol subset the engine's native client uses
(the same subset ``tests/test_repl_client.py::ScriptedMaster`` serves):
HandshakeV10 with ``mysql_native_password``, COM_QUERY probes (SHOW
VARIABLES, SET, SHOW BINARY LOG STATUS, the GTID/server-id selects),
COM_REGISTER_SLAVE and a non-blocking COM_BINLOG_DUMP that streams from
the requested position to the current head and ends with EOF.

Two threads: the generator, and one server thread that handles the
control commands on stdin and serves one connection at a time.
Commands (one per line on stdin, each answered by one JSON line):
``go`` starts generation, ``stop`` ends it, ``stats`` reports dump timings and schedule
lateness, ``save <path>`` writes the binlog bytes, ``exit`` quits.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import json
import selectors
import socket
import struct
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402

CAPS = 0x00000001 | 0x00000200 | 0x00008000 | 0x00080000
USER, PASSWORD = "repl", "bench"
FILE_NAME = "mysql-bin.000001"
NONCE = bytes(range(1, 21))


def _sha1(b: bytes) -> bytes:
    return hashlib.sha1(b).digest()


def _packet(seq: int, payload: bytes) -> bytes:
    return len(payload).to_bytes(3, "little") + bytes([seq & 0xFF]) + payload


def _lenenc(s: str) -> bytes:
    b = s.encode()
    return bytes([len(b)]) + b


OK = b"\x00\x00\x00\x02\x00\x00\x00"
EOF = b"\xfe\x00\x00\x02\x00"


def _err(code: int, msg: str) -> bytes:
    return b"\xff" + struct.pack("<H", code) + b"#HY000" + msg.encode()


def _resultset(seq: int, cols: list[str], rows: list[tuple]) -> bytes:
    out = [_packet(seq, bytes([len(cols)]))]
    for name in cols:
        seq += 1
        coldef = (_lenenc("def") + _lenenc("") * 3 + _lenenc(name) * 2 + b"\x0c"
                  + struct.pack("<HIBHB", 33, 255, 0xFD, 0, 0) + b"\x00\x00")
        out.append(_packet(seq, coldef))
    seq += 1
    out.append(_packet(seq, EOF))
    for row in rows:
        seq += 1
        out.append(_packet(seq, b"".join(
            b"\xfb" if v is None else _lenenc(str(v)) for v in row)))
    out.append(_packet(seq + 1, EOF))
    return b"".join(out)


class GrowingBinlog:
    """One binlog file that the generator thread appends whole
    transactions to; readers see it up to the last complete one."""

    def __init__(self, seed: int, events_per_s: float):
        self.feed = gen.TailFeed(seed)
        self.w = gen.Writer()
        gen.start_file(self.w, gen.TAIL_TABLES, 0)
        self.start_pos = self.w.pos
        self.offsets: list[int] = []
        self.ends: list[int] = []
        self._index_to(len(self.w.buf))
        self.head = self.w.pos
        self.trx_per_s = events_per_s / gen.TAIL_ROWS_PER_TRX
        self.n_trx = 0
        self.lateness_us_max = 0
        self.lock = threading.Lock()
        self.stopped = threading.Event()
        self.t0_us = 0
        self.stop_us = 0

    def _index_to(self, end: int) -> None:
        pos = self.ends[-1] if self.ends else 4
        buf = self.w.buf
        while pos < end:
            size = struct.unpack_from("<I", buf, pos + 9)[0]
            self.offsets.append(pos)
            self.ends.append(pos + size)
            pos += size

    def run(self) -> None:
        self.t0_us = time.time_ns() // 1000
        period_us = 1e6 / self.trx_per_s
        while not self.stopped.is_set():
            now = time.time_ns() // 1000
            while True:
                due = self.t0_us + int(self.n_trx * period_us)
                if due > now:
                    break
                events = self.feed.transaction(due)
                with self.lock:
                    gen.write_transaction(self.w, self.n_trx + 1, events)
                    self._index_to(len(self.w.buf))
                    self.head = self.w.pos
                self.lateness_us_max = max(self.lateness_us_max, now - due)
                self.n_trx += 1
            self.stopped.wait(max(0.0, min(0.005, (due - now) / 1e6)))
        self.stop_us = time.time_ns() // 1000

    def snapshot(self, pos: int) -> tuple[bytes, list[tuple[int, int]]]:
        """(buffer copy, [(start, end)] of events at or after ``pos``)."""
        with self.lock:
            head = self.head
            buf = bytes(self.w.buf[:head])
            i = bisect.bisect_left(self.offsets, max(pos, 4))
            j = bisect.bisect_right(self.ends, head)
            spans = list(zip(self.offsets[i:j], self.ends[i:j]))
        return buf, spans


class Master:
    def __init__(self, log: GrowingBinlog, generator: threading.Thread):
        self.log = log
        self.generator = generator
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self.dumps: list[dict] = []
        self.connections = 0

    def _recv(self, c) -> tuple[int, bytes] | None:
        hdr = b""
        while len(hdr) < 4:
            chunk = c.recv(4 - len(hdr))
            if not chunk:
                return None
            hdr += chunk
        n = int.from_bytes(hdr[:3], "little")
        body = b""
        while len(body) < n:
            chunk = c.recv(n - len(body))
            if not chunk:
                return None
            body += chunk
        return hdr[3], body

    def serve(self, c: socket.socket) -> None:
        self.connections += 1
        c.settimeout(30)
        c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        hs = (bytes([10]) + b"8.0.99-cdcbench\x00" + struct.pack("<I", 7)
              + NONCE[:8] + b"\x00" + struct.pack("<H", CAPS & 0xFFFF)
              + bytes([33]) + struct.pack("<H", 2) + struct.pack("<H", CAPS >> 16)
              + bytes([21]) + b"\x00" * 10 + NONCE[8:] + b"\x00"
              + b"mysql_native_password\x00")
        c.sendall(_packet(0, hs))
        got = self._recv(c)
        if got is None:
            return
        seq, p = got
        i = 32
        end = p.index(0, i)
        user = p[i:end].decode()
        alen = p[end + 1]
        auth = p[end + 2:end + 2 + alen]
        p1 = _sha1(PASSWORD.encode())
        expect = bytes(a ^ b for a, b in zip(p1, _sha1(NONCE + _sha1(p1))))
        if user != USER or auth != expect:
            c.sendall(_packet(seq + 1, _err(1045, f"Access denied for user '{user}'")))
            return
        c.sendall(_packet(seq + 1, OK))
        while True:
            got = self._recv(c)
            if got is None:
                return
            seq, p = got
            if p[0] == 0x03:
                c.sendall(self._query(seq + 1, p[1:].decode()))
            elif p[0] == 0x15:
                c.sendall(_packet(seq + 1, OK))
            elif p[0] == 0x12:
                pos = struct.unpack_from("<I", p, 1)[0]
                self._dump(c, seq + 1, pos)
                return
            else:
                c.sendall(_packet(seq + 1, _err(1047, f"unknown command {p[0]}")))

    def _query(self, seq: int, sql: str) -> bytes:
        s = sql.strip().upper()
        if s.startswith("SET"):
            return _packet(seq, OK)
        if "BINLOG_FORMAT" in s:
            return _resultset(seq, ["Variable_name", "Value"], [("binlog_format", "ROW")])
        if s in ("SHOW BINARY LOG STATUS", "SHOW MASTER STATUS"):
            return _resultset(seq, ["File", "Position", "Binlog_Do_DB",
                                    "Binlog_Ignore_DB", "Executed_Gtid_Set"],
                              [(FILE_NAME, str(self.log.head), "", "", "")])
        if s == "SELECT @@GLOBAL.GTID_EXECUTED":
            return _resultset(seq, ["@@GLOBAL.GTID_EXECUTED"], [("",)])
        if s == "SELECT @@SERVER_ID":
            return _resultset(seq, ["@@server_id"], [("7",)])
        return _packet(seq, _err(1064, f"unhandled: {sql}"))

    def _dump(self, c, seq: int, pos: int) -> None:
        t = time.perf_counter()
        buf, spans = self.log.snapshot(pos)
        fde_end = 4 + struct.unpack_from("<I", buf, 4 + 9)[0]
        out = [_packet(seq, b"\x00" + buf[4:fde_end])]
        for a, b in spans:
            if a == 4:
                continue  # the FDE went first
            seq += 1
            out.append(_packet(seq, b"\x00" + buf[a:b]))
        out.append(_packet(seq + 1, EOF))
        data = b"".join(out)
        c.sendall(data)
        self.dumps.append({"ms": (time.perf_counter() - t) * 1e3,
                           "events": len(spans), "bytes": len(data)})

    def loop(self) -> None:
        sel = selectors.DefaultSelector()
        sel.register(self.srv, selectors.EVENT_READ, "accept")
        sel.register(sys.stdin, selectors.EVENT_READ, "cmd")
        while True:
            for key, _ in sel.select():
                if key.data == "accept":
                    c, _ = self.srv.accept()
                    try:
                        self.serve(c)
                    except OSError:
                        pass
                    finally:
                        c.close()
                    continue
                line = sys.stdin.readline()
                if not line or not self.command(line.split()):
                    return

    def command(self, argv: list[str]) -> bool:
        log = self.log
        if not argv or argv[0] == "exit":
            return False
        if argv[0] == "go":
            self.generator.start()
            reply = {"go": True}
        elif argv[0] == "stop":
            log.stopped.set()
            self.generator.join()
            reply = {"n_trx": log.n_trx, "t0_us": log.t0_us, "stop_us": log.stop_us}
        elif argv[0] == "stats":
            span_s = max(1e-9, ((log.stop_us or time.time_ns() // 1000) - log.t0_us) / 1e6)
            reply = {
                "n_trx": log.n_trx,
                "offered_events_per_s": log.n_trx * gen.TAIL_ROWS_PER_TRX / span_s,
                "lateness_ms_max": log.lateness_us_max / 1e3,
                "connections": self.connections,
                "dumps": self.dumps,
            }
        elif argv[0] == "save":
            buf, _ = log.snapshot(4)
            Path(argv[1]).write_bytes(buf)
            reply = {"bytes": len(buf)}
        else:
            reply = {"error": f"unknown command {argv[0]}"}
        print(json.dumps(reply), flush=True)
        return True


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events-per-s", type=float, required=True)
    args = ap.parse_args()
    log = GrowingBinlog(args.seed, args.events_per_s)
    master = Master(log, threading.Thread(target=log.run, daemon=True))
    print(json.dumps({"port": master.port, "file": FILE_NAME,
                      "start_pos": log.start_pos}), flush=True)
    try:
        master.loop()
    finally:
        log.stopped.set()
        master.srv.close()
