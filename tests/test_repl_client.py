"""Scripted-loopback replication protocol tests.

A real TCP server in-process speaks enough of the public MySQL
client/server protocol — HandshakeV10 + mysql_native_password auth
verification, COM_QUERY text resultsets, COM_REGISTER_SLAVE,
COM_BINLOG_DUMP / COM_BINLOG_DUMP_GTID — and replays the committed
binary fixture ``tests/fixtures/replay.binlog`` over the socket. The
native client (sources/repl_client.py) connects exactly as it would
to a production master, so the handshake, auth, probe and dump paths
— the one line of S4 no test had executed — run end-to-end here,
including LiveBinlogStreamReader driving the full
read/readBetweenOffsets protocol over a real socket.

The server-side packet builders are written independently in this
file (not imported from the client) so the test is a differential
check of the wire layout, not a mirror of the client's own bugs.
Scenario parity: reference canal/canal_test.go:50-134 (create →
insert → dump → verify), .travis.yml:8-27 (live MySQL CI).
"""

from __future__ import annotations

import socket
import struct
import threading
from pathlib import Path

import pytest

from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA
from dolphinbeat_spark.sources.binlog_file import binlog_file_provider
from dolphinbeat_spark.sources.binlog_source import (
    LIVE_PROVIDER,
    ArrowBinlogStreamReader,
    BinlogOffset,
    LiveBinlogStreamReader,
    probe_master_offset,
)
from dolphinbeat_spark.sources.repl_client import (
    MysqlConn,
    MysqlServerError,
    ReplProtocolError,
    encode_gtid_set,
    native_event_iter,
    native_password_scramble,
    native_query_runner,
)

FIXTURE = Path(__file__).parent / "fixtures" / "replay.binlog"

CAPS = 0x00000001 | 0x00000200 | 0x00008000 | 0x00080000  # long-pw|41|secure|plugin


def _sha1(b: bytes) -> bytes:
    import hashlib

    return hashlib.sha1(b).digest()


def _split_events(data: bytes) -> list[tuple[int, bytes]]:
    """(file offset, raw event bytes) for every event after the magic."""
    out, pos = [], 4
    while pos + 19 <= len(data):
        esize = struct.unpack_from("<I", data, pos + 9)[0]
        out.append((pos, data[pos:pos + esize]))
        pos += esize
    return out


class ScriptedMaster(threading.Thread):
    """One-connection-at-a-time loopback master replaying the fixture."""

    def __init__(self, user="repl", password="secret",
                 binlog_format="ROW", auth_switch=False,
                 switch_plugin="mysql_native_password",
                 gtid_executed="", server_id="7"):
        super().__init__(daemon=True)
        self.user, self.password = user, password
        self.binlog_format = binlog_format
        self.auth_switch = auth_switch
        self.switch_plugin = switch_plugin
        self.gtid_executed = gtid_executed
        self.server_id_str = server_id
        self.data = FIXTURE.read_bytes()
        self.events = _split_events(self.data)
        self.file_name = "replay.binlog"
        self.head_pos = len(self.data)
        self.queries: list[str] = []
        self.dumps: list[dict] = []
        self.registered: list[int] = []
        self._halt = threading.Event()
        self._srv = socket.create_server(("127.0.0.1", 0))
        self._srv.settimeout(0.2)
        self.port = self._srv.getsockname()[1]

    # -- server-side framing (independent of the client module) ------------
    @staticmethod
    def _send(c, seq: int, payload: bytes) -> int:
        c.sendall(len(payload).to_bytes(3, "little")
                  + bytes([seq & 0xFF]) + payload)
        return seq + 1

    @staticmethod
    def _recv(c) -> tuple[int, bytes] | None:
        hdr = b""
        while len(hdr) < 4:
            chunk = c.recv(4 - len(hdr))
            if not chunk:
                return None
            hdr += chunk
        ln = int.from_bytes(hdr[:3], "little")
        payload = b""
        while len(payload) < ln:
            chunk = c.recv(ln - len(payload))
            if not chunk:
                return None
            payload += chunk
        return hdr[3], payload

    @staticmethod
    def _ok() -> bytes:
        return b"\x00\x00\x00\x02\x00\x00\x00"

    @staticmethod
    def _eof() -> bytes:
        return b"\xfe\x00\x00\x02\x00"

    @staticmethod
    def _errpkt(code: int, msg: str) -> bytes:
        return (b"\xff" + struct.pack("<H", code) + b"#HY000"
                + msg.encode())

    @staticmethod
    def _lenenc(s: str) -> bytes:
        b = s.encode()
        return bytes([len(b)]) + b

    def _coldef(self, name: str) -> bytes:
        le = self._lenenc
        return (le("def") + le("") + le("") + le("") + le(name)
                + le(name) + b"\x0c" + struct.pack("<HIBHB", 33, 255,
                                                   0xFD, 0, 0)
                + b"\x00\x00")

    def _resultset(self, c, seq: int, cols: list[str],
                   rows: list[tuple]) -> None:
        seq = self._send(c, seq, bytes([len(cols)]))
        for name in cols:
            seq = self._send(c, seq, self._coldef(name))
        seq = self._send(c, seq, self._eof())
        for row in rows:
            p = b"".join(b"\xfb" if v is None else self._lenenc(str(v))
                         for v in row)
            seq = self._send(c, seq, p)
        self._send(c, seq, self._eof())

    # -- protocol script ----------------------------------------------------
    def run(self) -> None:
        while not self._halt.is_set():
            try:
                c, _ = self._srv.accept()
            except socket.timeout:
                continue
            try:
                self._serve(c)
            except (ConnectionError, socket.timeout, OSError):
                pass
            finally:
                c.close()
        self._srv.close()

    def _serve(self, c: socket.socket) -> None:
        c.settimeout(10)
        nonce = bytes(range(1, 21))
        hs = (bytes([10]) + b"8.0.99-scripted\x00"
              + struct.pack("<I", 7) + nonce[:8] + b"\x00"
              + struct.pack("<H", CAPS & 0xFFFF) + bytes([33])
              + struct.pack("<H", 2) + struct.pack("<H", CAPS >> 16)
              + bytes([21]) + b"\x00" * 10 + nonce[8:] + b"\x00"
              + b"mysql_native_password\x00")
        self._send(c, 0, hs)
        got = self._recv(c)
        if got is None:
            return
        seq, p = got
        i = 4 + 4 + 1 + 23
        end = p.index(0, i)
        user = p[i:end].decode()
        i = end + 1
        alen = p[i]
        auth = p[i + 1:i + 1 + alen]
        if self.auth_switch:
            nonce2 = bytes(range(40, 60))
            seq = self._send(
                c, seq + 1,
                b"\xfe" + self.switch_plugin.encode() + b"\x00"
                + nonce2 + b"\x00")
            got = self._recv(c)
            if got is None:
                return
            seq, auth = got
            nonce = nonce2
        expect = (b"" if not self.password else bytes(
            a ^ b for a, b in zip(
                _sha1(self.password.encode()),
                _sha1(nonce + _sha1(_sha1(self.password.encode()))))))
        if user != self.user or bytes(auth) != expect:
            self._send(c, seq + 1, self._errpkt(
                1045, f"Access denied for user '{user}'"))
            return
        self._send(c, seq + 1, self._ok())

        while True:
            got = self._recv(c)
            if got is None:
                return
            seq, p = got
            cmd = p[0]
            if cmd == 0x03:  # COM_QUERY
                self._query(c, seq + 1, p[1:].decode())
            elif cmd == 0x15:  # COM_REGISTER_SLAVE
                self.registered.append(struct.unpack_from("<I", p, 1)[0])
                self._send(c, seq + 1, self._ok())
            elif cmd == 0x12:  # COM_BINLOG_DUMP
                pos, flags, sid = struct.unpack_from("<IHI", p, 1)
                fname = p[11:].decode()
                self.dumps.append({"kind": "pos", "pos": pos,
                                   "flags": flags, "server_id": sid,
                                   "file": fname})
                self._dump(c, seq + 1, pos)
                return  # dump ends the command phase
            elif cmd == 0x1E:  # COM_BINLOG_DUMP_GTID
                flags, sid = struct.unpack_from("<HI", p, 1)
                nlen = struct.unpack_from("<I", p, 7)[0]
                off = 11 + nlen + 8
                dlen = struct.unpack_from("<I", p, off)[0]
                blob = p[off + 4:off + 4 + dlen]
                self.dumps.append({"kind": "gtid", "flags": flags,
                                   "server_id": sid, "sid_block": blob})
                self._dump(c, seq + 1, 4)
                return
            else:
                self._send(c, seq + 1, self._errpkt(
                    1047, f"unknown command {cmd}"))

    def _query(self, c, seq: int, sql: str) -> None:
        self.queries.append(sql)
        s = sql.strip().upper()
        if s.startswith("SET"):
            self._send(c, seq, self._ok())
        elif "BINLOG_FORMAT" in s:
            self._resultset(c, seq, ["Variable_name", "Value"],
                            [("binlog_format", self.binlog_format)])
        elif s == "SHOW BINARY LOG STATUS":
            # pre-8.4 server: unknown statement -> client falls back
            self._send(c, seq, self._errpkt(1064, "syntax error"))
        elif s == "SHOW MASTER STATUS":
            self._resultset(
                c, seq,
                ["File", "Position", "Binlog_Do_DB",
                 "Binlog_Ignore_DB", "Executed_Gtid_Set"],
                [(self.file_name, str(self.head_pos), "", "",
                  self.gtid_executed)])
        elif s == "SELECT @@GLOBAL.GTID_EXECUTED":
            self._resultset(c, seq, ["@@GLOBAL.GTID_EXECUTED"],
                            [(self.gtid_executed,)])
        elif s == "SELECT @@SERVER_ID":
            self._resultset(c, seq, ["@@server_id"],
                            [(self.server_id_str,)])
        elif s == "SHOW BINARY LOGS":
            self._resultset(c, seq, ["Log_name", "File_size"],
                            [(self.file_name, str(self.head_pos))])
        else:
            self._send(c, seq, self._errpkt(1064, f"unhandled: {sql}"))

    def _dump(self, c, seq: int, pos: int) -> None:
        # a real master always sends the (fake) FDE first, then events
        # from the requested byte offset; NON_BLOCK -> EOF at head
        fde = next(raw for _, raw in self.events if raw[4] == 0x0F)
        seq = self._send(c, seq, b"\x00" + fde)
        for off, raw in self.events:
            if off >= max(pos, 4) and raw[4] != 0x0F:
                seq = self._send(c, seq, b"\x00" + raw)
        self._send(c, seq, self._eof())

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


@pytest.fixture()
def master():
    m = ScriptedMaster()
    m.start()
    yield m
    m.stop()


def _opts(m: ScriptedMaster, **kw) -> dict:
    o = {"host": "127.0.0.1", "port": str(m.port), "user": m.user,
         "password": m.password, "connect_timeout": "10"}
    o.update({k: str(v) for k, v in kw.items()})
    return o


def test_native_scramble_and_gtid_encoding():
    """Unit pins: the auth scramble against the published formula and
    the SID block against a hand-built layout."""
    nonce = bytes(range(1, 21))
    got = native_password_scramble("secret", nonce)
    p1 = _sha1(b"secret")
    assert got == bytes(a ^ b for a, b in
                        zip(p1, _sha1(nonce + _sha1(p1))))
    assert native_password_scramble("", nonce) == b""
    uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    blob = encode_gtid_set(f"{uuid}:1-5:7")
    sid = bytes.fromhex(uuid.replace("-", ""))
    assert blob == (struct.pack("<Q", 1) + sid + struct.pack("<Q", 2)
                    + struct.pack("<QQ", 1, 6)
                    + struct.pack("<QQ", 7, 8))
    with pytest.raises(ReplProtocolError, match="bad GTID"):
        encode_gtid_set("nothex:1-2")


def test_handshake_auth_and_probe(master):
    """Full socket handshake + text-protocol probes: S5 over a real
    connection, including the pre-8.4 statement fallback."""
    off = probe_master_offset(native_query_runner(_opts(master)))
    assert off.file == "replay.binlog"
    assert off.pos == master.head_pos
    assert off.server_id == 7
    assert any(q.strip().upper() == "SHOW MASTER STATUS"
               for q in master.queries)


def test_auth_failure_and_auth_switch():
    """Wrong password -> typed server error; AuthSwitchRequest to
    mysql_native_password re-scrambles on the fresh nonce; a switch to
    caching_sha2_password raises by name."""
    m = ScriptedMaster()
    m.start()
    try:
        bad = MysqlConn("127.0.0.1", m.port, "repl", "WRONG")
        with pytest.raises(MysqlServerError, match="Access denied"):
            bad.connect()
        bad.close()
    finally:
        m.stop()
    m = ScriptedMaster(auth_switch=True)
    m.start()
    try:
        c = MysqlConn("127.0.0.1", m.port, "repl", "secret").connect()
        assert c.query("SELECT @@server_id") == [("7",)]
        c.close()
    finally:
        m.stop()
    m = ScriptedMaster(auth_switch=True,
                       switch_plugin="caching_sha2_password")
    m.start()
    try:
        c = MysqlConn("127.0.0.1", m.port, "repl", "secret")
        with pytest.raises(NotImplementedError,
                           match="caching_sha2_password"):
            c.connect()
        c.close()
    finally:
        m.stop()


def test_row_format_asserted_over_socket():
    """binlog_format != ROW refuses to dump (canal/canal.go:368-377)."""
    m = ScriptedMaster(binlog_format="STATEMENT")
    m.start()
    try:
        with pytest.raises(RuntimeError, match="must be ROW"):
            native_event_iter(_opts(m), BinlogOffset(
                file="replay.binlog", pos=4))
    finally:
        m.stop()


def test_native_dump_matches_file_parser(master):
    """Events streamed over the socket decode IDENTICALLY to the same
    fixture parsed from disk — the live path and the backfill path are
    one decoder."""
    from dolphinbeat_spark.sources.binlog_file import parse_binlog_events

    live = list(native_event_iter(
        _opts(master), BinlogOffset(file="replay.binlog", pos=4)))
    disk = list(parse_binlog_events(FIXTURE.read_bytes()))
    assert len(live) == len(disk) and len(live) > 10
    for a, b in zip(live, disk):
        assert type(a).__name__ == type(b).__name__
        assert a.packet.log_pos == b.packet.log_pos
        for attr in ("rows", "query", "gtid", "xid", "next_binlog"):
            assert getattr(a, attr, None) == getattr(b, attr, None)
    d = master.dumps[0]
    assert d["kind"] == "pos" and d["file"] == "replay.binlog"
    assert d["flags"] == 1  # NON_BLOCK: drained stream ends the batch
    assert master.registered == [1001]
    assert any("MASTER_BINLOG_CHECKSUM" in q.upper()
               for q in master.queries)


def test_gtid_dump_over_socket(master):
    """A checkpointed gtid_set seeks via COM_BINLOG_DUMP_GTID with the
    binary SID block a real master expects."""
    uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    evs = list(native_event_iter(_opts(master), BinlogOffset(
        file="", pos=0, gtid_set=f"{uuid}:1-3")))
    assert evs
    d = master.dumps[0]
    assert d["kind"] == "gtid"
    assert d["sid_block"] == encode_gtid_set(f"{uuid}:1-3")


def test_live_reader_end_to_end_over_socket(master):
    """LiveBinlogStreamReader with NO injected factory: the production
    wiring (native_live_provider -> native client -> socket -> shared
    decoder -> envelope ops) across MULTIPLE micro-batches on one
    connection, plus replay (readBetweenOffsets) over a second real
    connection — the canal_test.go scenario shape.

    Batches are kept small so the first batch's end offset sits
    MID-FILE: the fixture's tail rotate flips the log name to
    ``replay.000002`` which sorts lexically before ``replay.binlog``
    (a fixture-name artifact — real series names are monotone
    ``base.NNNNNN``), so a replay range must not span the rotate."""
    opts = _opts(master, file="replay.binlog", pos=4,
                 max_ops_per_batch=8)
    reader = LiveBinlogStreamReader(opts)
    start = reader.initialOffset()
    assert BinlogOffset.from_json(start).file == "replay.binlog"
    rows1, end1 = reader.read(start)
    rows1 = list(rows1)
    assert rows1, "socket batch decoded no ops"
    e1 = BinlogOffset.from_json(end1)
    assert e1.file == "replay.binlog" and e1.pos > 4
    # drain the remaining batches over the SAME connection
    rows, cur = list(rows1), end1
    while True:
        got, nxt = reader.read(cur)
        got = list(got)
        if not got and nxt == cur:
            break
        rows += got
        cur = nxt
    assert BinlogOffset.from_json(cur).file == "replay.000002"
    # replay the first committed range over a FRESH socket connection.
    # schema_version (field 16) is masked: a replay re-applies the
    # range's DDL against the shared registry so its rows carry fresh
    # version stamps (established semantics — the file-provider replay
    # tests compare op/values the same way)
    iv = [i for i, f in enumerate(
        __import__("dolphinbeat_spark.envelope",
                   fromlist=["ENVELOPE_SCHEMA"]).ENVELOPE_SCHEMA.fields)
          if f.name == "schema_version"][0]
    mask = lambda r: r[:iv] + r[iv + 1:]  # noqa: E731
    replay = list(reader.readBetweenOffsets(start, end1))
    assert [mask(r) for r in replay] == [mask(r) for r in rows1]
    reader.stop()

    # parity: the same fixture through the file provider decodes the
    # same envelope ops (socket vs disk differential); 'file' names
    # the log so both contexts stamp the same log_name column
    fopts = {"binlog_file_path": str(FIXTURE), "file": "replay.binlog",
             "max_ops_per_batch": "10000"}
    factory, _latest = binlog_file_provider(fopts)
    freader = LiveBinlogStreamReader(fopts, event_iter_factory=factory)
    frows, _fend = freader.read(freader.initialOffset())
    assert rows == list(frows)


def _row_ops(records) -> list[tuple]:
    """Row ops as comparable tuples in log order (schema_version and
    the control ops left out)."""
    def image(v):
        return None if v is None else sorted(dict(v).items())

    return sorted(
        (r["log_name"], r["log_pos"], r["row_index"], r["op_type"],
         r["db"], r["table"], image(r["before"]), image(r["after"]))
        for r in records if r["op_type"] in ("insert", "update", "delete")
    )


def _file_row_ops() -> list[tuple]:
    """The fixture's row ops decoded from disk by the file provider."""
    opts = {"binlog_file_path": str(FIXTURE), "file": "replay.binlog",
            "max_ops_per_batch": "100000"}
    reader = LiveBinlogStreamReader(
        opts, event_iter_factory=binlog_file_provider(opts)[0])
    rows, _end = reader.read(reader.initialOffset())
    names = [f.name for f in ENVELOPE_SCHEMA.fields]
    return _row_ops(dict(zip(names, r)) for r in rows)


def test_arrow_shard_tasks_register_distinct_replica_ids(master):
    """Each table-shard task of the live Arrow reader registers as
    replica ``client_server_id + shard_index``: MySQL kills the older
    dump thread when a second connection reuses an id. Together the
    shards decode every row op of the range exactly once."""
    import pyarrow as pa

    r = ArrowBinlogStreamReader(_opts(
        master, provider=LIVE_PROVIDER, shard_count=3,
        file="replay.binlog", pos=4))
    start, end = r.initialOffset(), r.latestOffset()
    batches = [b for p in r.partitions(start, end) for b in r.read(p)]
    assert master.registered == [1001, 1002, 1003]
    got = pa.Table.from_batches(batches).to_pylist()
    assert _row_ops(got) == _file_row_ops()


def test_arrow_live_reader_starts_from_now_and_never_clamps(master):
    """The live-only rules follow the native provider, not ``host``:
    a live cold start begins at the master's head, and a planned end
    is never clamped (a mid-event position is not a seek a real master
    accepts). The file provider with a ``host`` option keeps pos 4 and
    its clamp."""
    r = ArrowBinlogStreamReader(_opts(
        master, provider=LIVE_PROVIDER, max_pos_delta_per_batch=100))
    r._planned_end = BinlogOffset(file="replay.binlog", pos=4)
    head = r.latestOffset()
    assert (head["file"], head["pos"]) == ("replay.binlog", master.head_pos)
    assert r.initialOffset()["pos"] == master.head_pos

    f = ArrowBinlogStreamReader({
        "provider": "dolphinbeat_spark.sources.binlog_file:binlog_file_provider",
        "binlog_file_path": str(FIXTURE), "host": "127.0.0.1",
        "max_pos_delta_per_batch": "100"})
    assert f.initialOffset()["pos"] == 4
    f._planned_end = BinlogOffset(file="replay.binlog", pos=4)
    assert f.latestOffset()["pos"] == 104


@pytest.mark.parametrize(
    "reader,n_sinks",
    [("simple", 1), ("arrow", 1), ("simple", 2), ("arrow", 2)],
    ids=["simple", "arrow", "simple-2sinks", "arrow-2sinks"],
)
def test_daemon_live_readers_over_socket(spark, tmp_path, master, reader, n_sinks):
    """daemon.run with ``reader = "simple"`` / ``"arrow"`` and no
    injected source: the registered live source reaches the master
    through the native client, and every stdout sink commits exactly
    the row ops the file provider decodes from the same fixture. The
    daemon reads the binlog once, however many sinks it has: one
    replica registration and one dump (MySQL kills the older dump of a
    second connection that reuses the replica id)."""
    from dolphinbeat_spark.daemon import DaemonConfig, SinkBlock, run
    from dolphinbeat_spark.schema.registry import SchemaRegistry

    (tmp_path / "schema").mkdir()
    SchemaRegistry().save(tmp_path / "schema" / "schema_snapshot.json")
    names = ["all", "again"][:n_sinks]
    cfg = DaemonConfig(
        mysql_addr=f"127.0.0.1:{master.port}", mysql_user=master.user,
        mysql_password=master.password, server_id=7, reader=reader,
        checkpoint_dir=str(tmp_path / "ckp"),
        tracker_dir=str(tmp_path / "schema"),
        sinks=[SinkBlock(type="stdout", name=n, cfg={"out_dir": str(tmp_path / n)})
               for n in names],
    )
    assert cfg.validate() == []
    _, query, _server = run(
        cfg, spark, trigger_once=True,
        source_options_extra={"file": "replay.binlog", "pos": "4"})
    try:
        query.awaitTermination(120)
    finally:
        query.stop()
    for n in names:
        out = spark.read.parquet(str(tmp_path / n / "batch=*"))
        assert _row_ops(r.asDict() for r in out.collect()) == _file_row_ops()
    # the replica id is the source's client_server_id (default 1001)
    assert master.registered == [1001]
    assert len(master.dumps) == 1 and master.dumps[0]["kind"] == "pos"
