"""From-scratch MySQL replication client over a raw TCP socket.

This is the engine's one live binlog transport (the role go-mysql's
binlog syncer plays for the reference). It speaks the public MySQL
client/server protocol directly (handshake v10,
``mysql_native_password`` auth, COM_QUERY text resultsets,
COM_REGISTER_SLAVE, COM_BINLOG_DUMP / COM_BINLOG_DUMP_GTID) and hands
every streamed event to the SAME from-scratch binlog parser the
archived-file/backfill path uses
(:class:`dolphinbeat_spark.sources.binlog_file.BinlogEventDecoder`),
so live bytes and recorded bytes decode through literally identical
code and the loopback protocol test covers both.

Reference parity: the reference asserts ROW format before dumping
(``canal/canal.go:368-377``), prefers GTID seek with file/pos fallback
(``canal/sync.go:46-67``), and registers as a replica with a distinct
server id (its go-mysql dependency's ``replication/binlogsyncer.go``).
Wire layout is from the public MySQL internals manual ("Client/Server
Protocol", "Replication Protocol"); nothing here is derived from any
implementation's source.

Scale note: one replication stream is ONE ordered TCP connection by
protocol design — parallelism happens after decode (table-sharded
Arrow tasks and sharded simple readers each open their own connection
with a distinct replica server id; see :func:`native_event_iter`).
"""

from __future__ import annotations

import hashlib
import socket
import struct

from dolphinbeat_spark.sources.binlog_file import BinlogEventDecoder

# capability flags (Protocol::CapabilityFlags)
CLIENT_LONG_PASSWORD = 0x00000001
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000

# command bytes
COM_QUERY = 0x03
COM_BINLOG_DUMP = 0x12
COM_REGISTER_SLAVE = 0x15
COM_BINLOG_DUMP_GTID = 0x1E

BINLOG_DUMP_NON_BLOCK = 0x01  # drained stream -> EOF, ends the batch

_MAX_PACKET = 0xFFFFFF


class ReplProtocolError(RuntimeError):
    """Malformed or unsupported bytes on the client/server channel."""


class MysqlServerError(ReplProtocolError):
    """An ERR packet from the server, surfaced with its code/sqlstate."""

    def __init__(self, code: int, sqlstate: str, message: str):
        super().__init__(f"MySQL error {code} ({sqlstate}): {message}")
        self.code = code
        self.sqlstate = sqlstate
        self.message = message


def native_password_scramble(password: str, nonce: bytes) -> bytes:
    """``mysql_native_password``: SHA1(pw) XOR SHA1(nonce + SHA1(SHA1(pw)))
    over the 20-byte handshake nonce (public auth plugin spec)."""
    if not password:
        return b""
    p1 = hashlib.sha1(password.encode("utf-8")).digest()
    p2 = hashlib.sha1(p1).digest()
    mix = hashlib.sha1(nonce + p2).digest()
    return bytes(a ^ b for a, b in zip(p1, mix))


def encode_gtid_set(gtid_set: str) -> bytes:
    """Canonical executed-gtid-set string -> the binary SID block
    COM_BINLOG_DUMP_GTID carries: n_sids(8) then per sid uuid(16) +
    n_intervals(8) + per interval [start(8), end_exclusive(8))."""
    sids: list[tuple[bytes, list[tuple[int, int]]]] = []
    for part in gtid_set.split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split(":")
        try:
            sid = bytes.fromhex(bits[0].replace("-", ""))
        except ValueError as ex:
            raise ReplProtocolError(f"bad GTID sid {bits[0]!r}") from ex
        if len(sid) != 16 or len(bits) < 2:
            raise ReplProtocolError(f"bad GTID component {part!r}")
        ivs = []
        for iv in bits[1:]:
            a, _, b = iv.partition("-")
            start = int(a)
            ivs.append((start, (int(b) if b else start) + 1))
        sids.append((sid, ivs))
    out = struct.pack("<Q", len(sids))
    for sid, ivs in sids:
        out += sid + struct.pack("<Q", len(ivs))
        for a, b in ivs:
            out += struct.pack("<QQ", a, b)
    return out


def _read_lenenc(p: bytes, i: int) -> tuple[int | None, int]:
    b = p[i]
    if b < 0xFB:
        return b, i + 1
    if b == 0xFB:  # NULL (in row context)
        return None, i + 1
    if b == 0xFC:
        return struct.unpack_from("<H", p, i + 1)[0], i + 3
    if b == 0xFD:
        return int.from_bytes(p[i + 1:i + 4], "little"), i + 4
    if b == 0xFE:
        return struct.unpack_from("<Q", p, i + 1)[0], i + 9
    raise ReplProtocolError(f"bad length-encoded integer tag {b:#x}")


class MysqlConn:
    """Minimal blocking client connection: auth, text queries, binlog
    dump. One connection is one ordered stream (protocol property)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 3306,
                 user: str = "", password: str = "",
                 timeout: float = 30.0):
        self.host, self.port = host, port
        self.user, self.password = user, password
        self.timeout = timeout
        self._sock: socket.socket | None = None
        self._seq = 0

    # -- packet framing ----------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise ReplProtocolError(
                    "server closed the connection mid-packet")
            buf += chunk
        return bytes(buf)

    def _read_packet(self) -> bytes:
        """One logical packet (joins 16 MiB continuation frames)."""
        payload = bytearray()
        while True:
            hdr = self._recv_exact(4)
            ln = int.from_bytes(hdr[:3], "little")
            self._seq = hdr[3] + 1
            payload += self._recv_exact(ln)
            if ln < _MAX_PACKET:
                return bytes(payload)

    def _send_packet(self, payload: bytes) -> None:
        # outbound frames never exceed 16 MiB here (commands are tiny)
        self._sock.sendall(
            len(payload).to_bytes(3, "little")
            + bytes([self._seq & 0xFF]) + payload
        )
        self._seq += 1

    def _send_command(self, payload: bytes) -> None:
        self._seq = 0  # each command restarts the sequence cycle
        self._send_packet(payload)

    @staticmethod
    def _err(p: bytes) -> MysqlServerError:
        code = struct.unpack_from("<H", p, 1)[0]
        i = 3
        sqlstate = ""
        if i < len(p) and p[i:i + 1] == b"#":
            sqlstate = p[i + 1:i + 6].decode("ascii", "replace")
            i += 6
        return MysqlServerError(code, sqlstate,
                                p[i:].decode("utf-8", "replace"))

    # -- connect / auth ------------------------------------------------------
    def connect(self) -> "MysqlConn":
        self._sock = socket.create_connection((self.host, self.port),
                                              timeout=self.timeout)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        p = self._read_packet()
        if p[0] == 0xFF:
            raise self._err(p)
        if p[0] != 10:
            raise ReplProtocolError(
                f"unsupported handshake protocol version {p[0]}")
        i = p.index(0, 1)
        self.server_version = p[1:i].decode("ascii", "replace")
        i += 1 + 4  # thread id
        auth1 = p[i:i + 8]
        i += 8 + 1  # filler
        caps = struct.unpack_from("<H", p, i)[0]
        i += 2
        auth2 = b""
        plugin = "mysql_native_password"
        if i < len(p):  # post-5.0 tail
            i += 1 + 2  # charset + status
            caps |= struct.unpack_from("<H", p, i)[0] << 16
            i += 2
            auth_len = p[i]
            i += 1 + 10  # reserved
            if caps & CLIENT_SECURE_CONNECTION:
                n = max(13, auth_len - 8)
                auth2 = p[i:i + n].split(b"\x00", 1)[0][:12]
                i += n
            if caps & CLIENT_PLUGIN_AUTH:
                end = p.index(0, i) if 0 in p[i:] else len(p)
                plugin = p[i:end].decode("ascii", "replace")
        nonce = auth1 + auth2
        if not caps & CLIENT_PROTOCOL_41:
            raise ReplProtocolError("server lacks CLIENT_PROTOCOL_41")

        if plugin == "mysql_native_password":
            auth = native_password_scramble(self.password, nonce)
        else:
            # ask for native via the response; the server answers with
            # an AuthSwitchRequest if it insists on its default
            auth = b""
        client_caps = (CLIENT_LONG_PASSWORD | CLIENT_PROTOCOL_41
                       | CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH)
        resp = struct.pack("<IIB23x", client_caps, 1 << 24, 33)
        resp += self.user.encode("utf-8") + b"\x00"
        resp += bytes([len(auth)]) + auth
        resp += b"mysql_native_password\x00"
        self._send_packet(resp)

        p = self._read_packet()
        if p[0] == 0xFE:  # AuthSwitchRequest
            end = p.index(0, 1)
            want = p[1:end].decode("ascii", "replace")
            if want != "mysql_native_password":
                raise NotImplementedError(
                    f"server auth plugin {want!r} not supported — "
                    "mysql_native_password is (caching_sha2_password "
                    "needs TLS or RSA key exchange)")
            new_nonce = p[end + 1:].split(b"\x00", 1)[0]
            self._send_packet(
                native_password_scramble(self.password, new_nonce))
            p = self._read_packet()
        if p[0] == 0xFF:
            raise self._err(p)
        if p[0] != 0x00:
            raise ReplProtocolError(
                f"unexpected auth result packet {p[0]:#x}")
        return self

    # -- COM_QUERY text protocol ----------------------------------------------
    def query(self, sql: str) -> list[tuple]:
        """Text-protocol query -> rows of str/None (probes only — the
        engine's data path never reads table data over this channel)."""
        self._send_command(bytes([COM_QUERY]) + sql.encode("utf-8"))
        p = self._read_packet()
        if p[0] == 0x00:
            return []
        if p[0] == 0xFF:
            raise self._err(p)
        if p[0] == 0xFB:
            raise ReplProtocolError("unexpected LOCAL INFILE request")
        ncols, _ = _read_lenenc(p, 0)
        for _ in range(ncols):
            self._read_packet()  # column definitions: probes skip them
        p = self._read_packet()
        if not (p[0] == 0xFE and len(p) < 9):
            raise ReplProtocolError("missing EOF after column definitions")
        rows: list[tuple] = []
        while True:
            p = self._read_packet()
            if p[0] == 0xFE and len(p) < 9:
                return rows
            if p[0] == 0xFF:
                raise self._err(p)
            vals, i = [], 0
            while i < len(p):
                n, i = _read_lenenc(p, i)
                if n is None:
                    vals.append(None)
                else:
                    vals.append(p[i:i + n].decode("utf-8", "replace"))
                    i += n
            rows.append(tuple(vals))

    # -- replication ----------------------------------------------------------
    def register_slave(self, server_id: int, port: int = 0) -> None:
        """COM_REGISTER_SLAVE with empty report host/user/password —
        what library clients send; the master only uses it for SHOW
        SLAVE HOSTS bookkeeping."""
        payload = bytes([COM_REGISTER_SLAVE]) + struct.pack(
            "<IBBBHII", server_id, 0, 0, 0, port, 0, 0)
        self._send_command(payload)
        p = self._read_packet()
        if p[0] == 0xFF:
            raise self._err(p)

    def binlog_dump(self, server_id: int, log_file: str, pos: int,
                    non_block: bool = True) -> None:
        flags = BINLOG_DUMP_NON_BLOCK if non_block else 0
        self._send_command(
            bytes([COM_BINLOG_DUMP])
            + struct.pack("<IHI", max(pos, 4), flags, server_id)
            + log_file.encode("utf-8"))

    def binlog_dump_gtid(self, server_id: int, gtid_set: str,
                         non_block: bool = True) -> None:
        sid_block = encode_gtid_set(gtid_set)
        flags = BINLOG_DUMP_NON_BLOCK if non_block else 0
        self._send_command(
            bytes([COM_BINLOG_DUMP_GTID])
            + struct.pack("<HI", flags, server_id)
            + struct.pack("<I", 0)  # empty binlog name
            + struct.pack("<Q", 4)
            + struct.pack("<I", len(sid_block)) + sid_block)

    def events(self):
        """Raw event bytes per dump packet (0x00 OK byte stripped);
        stops at EOF (non-blocking dump, caught up), raises on ERR."""
        while True:
            p = self._read_packet()
            if not p:
                raise ReplProtocolError("empty dump packet")
            if p[0] == 0x00:
                yield p[1:]
            elif p[0] == 0xFE and len(p) < 9:
                return
            elif p[0] == 0xFF:
                raise self._err(p)
            else:
                raise ReplProtocolError(
                    f"unexpected dump packet marker {p[0]:#x}")

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None


# -- engine glue ---------------------------------------------------------------


def _conn(options: dict) -> MysqlConn:
    return MysqlConn(
        host=options.get("host", "127.0.0.1"),
        port=int(options.get("port", "3306")),
        user=options.get("user", ""),
        password=options.get("password", ""),
        timeout=float(options.get("connect_timeout", "30")),
    )


def native_query_runner(options: dict):
    """``run_query(sql) -> list[tuple]`` over the native client — the
    injectable shape probe_master_offset/offset_is_resumable take."""

    def run(sql: str) -> list[tuple]:
        c = _conn(options).connect()
        try:
            return c.query(sql)
        finally:
            c.close()

    return run


def native_event_iter(options: dict, offset):
    """The live event iterator positioned at ``offset``: connect,
    assert ROW format (reference canal/canal.go:368-377), negotiate
    the checksum the FDE will declare, register as a replica, seek by
    GTID set when present else file/pos (canal/sync.go:46-67), then
    yield decoded duck-typed events from the shared BinlogEventDecoder.

    The replica id is ``client_server_id + shard_index``: concurrent
    shard readers must each register under a DISTINCT id, because
    MySQL kills the existing dump thread when a second connection
    reuses one."""
    c = _conn(options).connect()
    try:
        rows = c.query("SHOW VARIABLES LIKE 'binlog_format'")
        if rows and str(rows[0][1]).upper() != "ROW":
            raise RuntimeError(
                f"binlog_format must be ROW, got {rows[0][1]!r}")
        # real replicas announce checksum awareness before dumping;
        # the in-stream FDE then declares the algorithm and
        # BinlogEventDecoder verifies per event
        c.query("SET @master_binlog_checksum= @@global.binlog_checksum")
        server_id = (int(options.get("client_server_id", "1001"))
                     + int(options.get("shard_index", "0")))
        c.register_slave(server_id)
        gtid_on = options.get("gtid_enabled", "true") != "false"
        if offset.gtid_set and gtid_on:
            if options.get("flavor") == "mariadb":
                # MariaDB's GTID handshake is session variables + a
                # plain dump (public replication protocol)
                c.query(f"SET @slave_connect_state='{offset.gtid_set}'")
                c.query("SET @mariadb_slave_capability=4")
                c.binlog_dump(server_id, offset.file or "",
                              max(offset.pos, 4))
            else:
                c.binlog_dump_gtid(server_id, offset.gtid_set)
        else:
            c.binlog_dump(server_id, offset.file or "",
                          max(offset.pos, 4))
    except BaseException:
        c.close()
        raise

    def gen():
        dec = BinlogEventDecoder()
        n = 0
        try:
            for raw in c.events():
                yield from dec.feed(raw, at=n)
                n += 1
        finally:
            c.close()

    return gen()


def native_live_provider(options: dict):
    """Provider-contract wrapper (``provider(options) -> (factory,
    latest)``): the live source of LiveBinlogStreamReader and
    ArrowBinlogStreamReader, reached exactly like the scripted and file
    providers. ``latest`` probes the master's current position."""
    from dolphinbeat_spark.sources.binlog_source import probe_master_offset

    def factory(offset):
        return native_event_iter(options, offset)

    def latest(opts: dict) -> dict:
        return probe_master_offset(native_query_runner(opts)).to_json()

    return factory, latest
