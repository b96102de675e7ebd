"""Protobuf wire format for the Kafka sink — the reference's actual
consumer contract (K5/K7 drop-in compatibility).

The reference's only documented cross-language consumer interop is
protobuf ``Operation`` messages inside a fragmentable, optionally
zlib-compressed ``Message`` envelope:

- message schema / field numbers: ``sink/kafka/protocol/protocol.proto``
  (Message :56-76, Payload :78-80, Operation :128-151, Row/Column
  :82-90, TableDef/ColumnDef :92-109, Progress :111-117,
  OperationHeader :119-126);
- value stringification: ``sink/kafka/operation.go:158-178`` (every
  column value rendered as a string; NULL → is_null flag + "");
- producer framing: ``sink/kafka/kafka.go:421-518`` — marshal the
  Payload, zlib-compress the WHOLE marshaled payload if configured,
  then split into ``max_payload_size`` fragments, one Message (with its
  own seq; group_id = first seq of the group) per fragment;
- consumer contract: ``sink/kafka/client/go/decoder.go:146-267`` —
  seq-dedup (drop any message whose seq isn't the successor), drop
  uncompleted fragment groups on producer change, reassemble fragments
  by concatenation, decompress, unmarshal.

No protobuf library ships in this environment, so the proto3 wire
encoding (a public, stable spec: varints + tagged length-delimited
fields) is implemented directly — ~60 lines — against the field
numbers above. Any stock protobuf decoder compiled from the
reference's .proto can read these bytes, and :class:`OperationDecoder`
below is the Python port of the reference client's decode loop for the
round-trip tests.

Scale note: per-op encoding is distributed (``mapInArrow`` over every
input partition — ``Payload``'s repeated field means the payload body
is the plain concatenation of each op's tagged bytes, which makes op
encoding embarrassingly parallel); only the total-order sort,
grouping, compression and produce run on the driver, on the
already-encoded bytes — the K1 single-ordered-stream boundary the
reference itself imposes (kafka.go:91-95).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

from dolphinbeat_spark.schema.registry import SchemaDriftError

# ---------------------------------------------------------------------------
# proto3 wire primitives (public encoding spec)
# ---------------------------------------------------------------------------

_MASK64 = (1 << 64) - 1
#: every one-byte varint — each field tag of this schema (field numbers
#: up to 15) and most lengths — served without building bytes
_SMALL_VARINT = tuple(bytes([i]) for i in range(128))


def _uvarint(n: int) -> bytes:
    """Base-128 varint of an unsigned (or two's-complement) integer."""
    if 0 <= n < 128:
        return _SMALL_VARINT[n]
    n &= _MASK64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(fieldno: int, wiretype: int) -> bytes:
    return _uvarint(fieldno << 3 | wiretype)


def f_varint(fieldno: int, n: int) -> bytes:
    """Varint-typed field; proto3 default (0) is not emitted."""
    if not n:
        return b""
    return _tag(fieldno, 0) + _uvarint(int(n))


def f_bytes(fieldno: int, data: bytes, *, emit_empty: bool = False) -> bytes:
    """Length-delimited field; proto3 default (empty) is not emitted
    unless ``emit_empty`` (needed for repeated elements, which are
    always present even when their serialization is zero-length)."""
    if not data and not emit_empty:
        return b""
    return _tag(fieldno, 2) + _uvarint(len(data)) + data


def f_str(fieldno: int, s: str | None) -> bytes:
    # non-strings (None, pandas NaN) serialize as the proto3 default
    return f_bytes(fieldno, s.encode("utf-8") if isinstance(s, str) else b"")


def as_int(x) -> int:
    """0 for None/NaN/unparseable — pandas batches carry nullable int
    columns as float NaN, which must become the proto3 default."""
    if x is None:
        return 0
    try:
        return int(x)
    except (ValueError, TypeError, OverflowError):
        return 0


def read_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        if i >= len(buf):
            raise ValueError(f"truncated varint at byte {i} of {len(buf)}")
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def parse_fields(buf: bytes) -> dict[int, list]:
    """Parse a serialized message into {field_number: [values]} —
    varint fields decode to int, length-delimited to bytes. Unknown
    wiretypes (fixed32/64 — unused by this schema) are skipped."""
    out: dict[int, list] = {}
    i = 0
    while i < len(buf):
        key, i = read_uvarint(buf, i)
        fieldno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = read_uvarint(buf, i)
        elif wt == 2:
            ln, i = read_uvarint(buf, i)
            if i + ln > len(buf):
                raise ValueError(
                    f"truncated length-delimited field {fieldno}: "
                    f"need {ln} bytes at {i}, have {len(buf) - i}"
                )
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:  # fixed32
            v = buf[i : i + 4]
            i += 4
        elif wt == 1:  # fixed64
            v = buf[i : i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported wiretype {wt} at byte {i}")
        out.setdefault(fieldno, []).append(v)
    return out


def _one(fields: dict, n: int, default):
    vals = fields.get(n)
    return vals[-1] if vals else default


def _s(fields: dict, n: int) -> str:
    # tolerant decode: a Go producer can stringify raw BLOB bytes into a
    # proto string without UTF-8 validation (operation.go:158-163);
    # invalid sequences must not kill the consumer chain
    return bytes(_one(fields, n, b"")).decode("utf-8", "replace")


def _i(fields: dict, n: int) -> int:
    return int(_one(fields, n, 0))


# ---------------------------------------------------------------------------
# enums (protocol.proto:4-54)
# ---------------------------------------------------------------------------

OP_TYPE_CODE = {
    "rotate": 0, "gtid": 1, "begin": 2, "commit": 3, "insert": 4,
    "update": 5, "delete": 6, "query": 7, "ddl": 8,
}
OP_TYPE_NAME = {v: k for k, v in OP_TYPE_CODE.items()}

COMPRESSION_NONE, COMPRESSION_ZLIB, COMPRESSION_GZIP = 0, 1, 2

# MySQL wire-protocol type codes (the InnerType enum mirrors them,
# protocol.proto:15-48). The reference's schema tracker emits the
# CLASSIC protocol codes — TypeTimestamp=7, TypeDuration=11,
# TypeDatetime=12 (schema/definition.go:30-37), NOT the binlog-side
# TIMESTAMP2/DATETIME2/TIME2 storage codes (17/18/19) — so consumers
# branching on inner_type see the same codes as from the Go producer.
_INNER_TYPE_PATTERNS = (
    ("bigint", 8), ("tinyint", 1), ("smallint", 2), ("mediumint", 9),
    ("int", 3), ("float", 4), ("double", 5), ("decimal", 246),
    ("numeric", 246), ("timestamp", 7), ("datetime", 12), ("time", 11),
    ("date", 10), ("year", 13), ("varchar", 15), ("varbinary", 253),
    ("char", 254), ("binary", 254), ("tinytext", 249), ("mediumtext", 250),
    ("longtext", 251), ("text", 252), ("tinyblob", 249),
    ("mediumblob", 250), ("longblob", 251), ("blob", 252), ("json", 245),
    ("enum", 247), ("set", 248), ("bit", 16), ("geometry", 255),
)


def inner_type_code(mysql_type: str) -> int:
    t = (mysql_type or "").strip().lower()
    for prefix, code in _INNER_TYPE_PATTERNS:
        if t.startswith(prefix):
            return code
    return 253  # VAR_STRING: the stringly fallback


# ---------------------------------------------------------------------------
# message encoders (producer side)
# ---------------------------------------------------------------------------


def encode_column(value: str | None, is_null: bool) -> bytes:
    # Column: is_null=1, value=2 (NULL → is_null + "" per operation.go:165-178)
    if is_null:
        return f_varint(1, 1)
    return f_str(2, value or "")


def encode_row(before: list[tuple[str | None, bool]] | None,
               after: list[tuple[str | None, bool]] | None) -> bytes:
    # Row: before=1 repeated Column, after=2 repeated Column. The
    # encode_column cases inlined — the encoder's innermost loop: NULL
    # is the 2-byte Column {is_null: 1}, an empty value the empty
    # Column, any other value {value: v}
    out = []
    add = out.append
    for tag, image in ((b"\x0a", before), (b"\x12", after)):
        null_col, empty_col = tag + b"\x02\x08\x01", tag + b"\x00"
        for v, isn in image or ():
            if isn:
                add(null_col)
            elif v and isinstance(v, str):
                data = v.encode("utf-8")
                col = b"\x12" + _uvarint(len(data)) + data
                add(tag + _uvarint(len(col)) + col)
            else:
                add(empty_col)
    return b"".join(out)


def encode_table_def(table_def) -> bytes:
    # TableDef: database=1, name=2, columns=3 repeated ColumnDef
    out = bytearray()
    out += f_str(1, table_def.database)
    out += f_str(2, table_def.name)
    for c in table_def.columns:
        # ColumnDef: name=1, sql_type=2, inner_type=3, unsigned=4, key=5, charset=6
        cd = (
            f_str(1, c.name)
            + f_str(2, c.type)
            + f_varint(3, inner_type_code(c.type))
            + f_varint(4, 1 if c.unsigned else 0)
            + f_str(5, c.key)
            + f_str(6, c.charset)
        )
        out += f_bytes(3, cd, emit_empty=True)
    return bytes(out)


def encode_progress(progress: dict | None) -> bytes:
    # Progress: flavor=1, server_id=2, log_name=3, log_pos=4, gset=5
    if not progress:
        return b""
    return (
        f_str(1, progress.get("flavor"))
        + f_varint(2, as_int(progress.get("server_id")))
        + f_str(3, progress.get("log_name"))
        + f_varint(4, as_int(progress.get("log_pos")))
        + f_str(5, progress.get("gset"))
    )


def _as_map(x) -> dict:
    """Envelope map columns arrive as dicts (Row.asDict), lists of
    (k, v) pairs (Arrow MapArray → pandas), or None."""
    if x is None or (isinstance(x, float) and x != x):
        return {}
    return x if isinstance(x, dict) else dict(x)


def _image(row: dict, image: str, col_names: list[str], op: dict):
    """``row``'s ``image`` columns in TableDef order (``op`` is the
    Operation's envelope row); raises SchemaDriftError rather than drop
    a column the TableDef lacks."""
    vals = _as_map(row.get(image))
    nulls = _as_map(row.get(f"{image}_null"))
    if not vals and not nulls:
        return None
    unknown = (vals.keys() | nulls.keys()).difference(col_names)
    if unknown:
        raise SchemaDriftError(
            f"{image} image of a {op['op_type']} on {op.get('db')}.{op.get('table')} "
            f"(schema_version {op.get('schema_version')}) has columns {sorted(unknown)} "
            f"that its TableDef {col_names} lacks"
        )
    return [(vals.get(c), bool(nulls.get(c))) for c in col_names]


def encode_operation(row: dict, table_def=None) -> bytes:
    """One envelope row → serialized ``Operation``.

    ``row`` is an envelope dict (see envelope.py — already stringly per
    D12, matching operation.go's makeValue); ``table_def`` is the
    registry's TableDef for row ops (column ORDER defines the repeated
    Column order, exactly as the reference emits positional columns).
    """
    if table_def is not None:
        table_def = (table_def.column_names(), encode_table_def(table_def))
    return _encode_operation(row, table_def)


_ROW_OPS = frozenset({"insert", "update", "delete"})


class OperationEncoder:
    """:func:`encode_operation` over a stream of envelope rows, looking
    each row op's TableDef up in ``registry`` and serializing it once
    per (db, table, schema_version) instead of once per op. A row
    without a schema_version resolves at the registry's current
    version, so a DDL applied to ``registry`` later is a new key —
    never a stale hit."""

    def __init__(self, registry):
        self.registry = registry
        self._defs: dict[tuple, tuple | None] = {}

    def table_def(self, db, table, schema_version) -> tuple | None:
        """(column names, serialized TableDef) or None when unknown."""
        key = (db, table, as_int(schema_version) or self.registry.version)
        if key not in self._defs:
            td = self.registry.get(db, table, key[2])
            self._defs[key] = (
                None if td is None else (td.column_names(), encode_table_def(td))
            )
        return self._defs[key]

    def __call__(self, row: dict) -> bytes:
        td = None
        if row["op_type"] in _ROW_OPS:
            td = self.table_def(row.get("db"), row.get("table"), row.get("schema_version"))
        return _encode_operation(row, td)



def _encode_operation(row: dict, table_def: tuple | None) -> bytes:
    """encode_operation with the TableDef already serialized:
    ``table_def`` is (column names, TableDef bytes) for row ops."""
    op_type = row["op_type"]
    code = OP_TYPE_CODE[op_type]
    # OperationHeader: server_id=1, type=2, timestamp=3, log_pos=4
    header = (
        f_varint(1, as_int(row.get("server_id")))
        + f_varint(2, code)
        + f_varint(3, as_int(row.get("timestamp")))
        + f_varint(4, as_int(row.get("log_pos")))
    )
    out = bytearray()
    out += f_bytes(1, header, emit_empty=True)
    if op_type == "rotate":
        out += f_str(6, row.get("next_log_name"))
        out += f_varint(7, as_int(row.get("next_log_pos")))
    elif op_type == "gtid":
        out += f_str(8, row.get("gtid"))
        # group-commit logical clock, wire fields 9/10 — the reference
        # RESERVES these (protocol.proto:137-138) but its producer never
        # populates them (operation.go:93-99 omission); we do, enabling
        # parallel apply at the consumer. NaN/None (clock-less feed)
        # encodes as the proto3 default (absent).
        out += f_varint(9, as_int(row.get("last_committed")))
        out += f_varint(10, as_int(row.get("sequence_number")))
    elif op_type in ("query", "ddl"):
        out += f_str(11, row.get("db"))
        out += f_str(12, row.get("statement"))
    elif op_type in _ROW_OPS:
        if table_def is None:
            raise ValueError(f"row op {op_type} needs a TableDef for column order")
        cols, td_bytes = table_def
        out += f_bytes(13, td_bytes, emit_empty=True)
        packed = row.get("__rows")
        if packed is not None and not (isinstance(packed, float) and packed != packed):
            # multi-row packing: one Operation carries EVERY row image
            # of its RowsEvent as repeated ``Row rows = 14`` — the
            # reference producer's exact shape (operation.go:33-73)
            for r in packed:
                r = r if isinstance(r, dict) else r.asDict()
                out += f_bytes(
                    14,
                    encode_row(_image(r, "before", cols, row), _image(r, "after", cols, row)),
                    emit_empty=True,
                )
        else:
            out += f_bytes(
                14,
                encode_row(_image(row, "before", cols, row), _image(row, "after", cols, row)),
                emit_empty=True,
            )
    if op_type in ("commit", "ddl"):
        prog = row.get("progress")
        if prog is not None and not isinstance(prog, dict):
            if isinstance(prog, float):  # pandas NaN for a null struct
                prog = None
            else:
                prog = prog.asDict()  # pyspark Row
        out += f_bytes(15, encode_progress(prog))
    return bytes(out)


def payload_chunk(op_bytes: bytes) -> bytes:
    """An Operation as a Payload element: ops=1 repeated — the full
    Payload body is the concatenation of these chunks (what makes
    distributed per-op encoding possible)."""
    return f_bytes(1, op_bytes, emit_empty=True)


def encode_message(
    seq: int,
    producer_id: int,
    group_id: int,
    payload: bytes,
    more_fragment: bool = False,
    compression: int = COMPRESSION_NONE,
    version: int = 1,
) -> bytes:
    # Message: version=1, producer_id=2, seq=5, more_fragment=6,
    # group_id=7, compression=8, payload=15
    return (
        f_varint(1, version)
        + f_varint(2, producer_id)
        + f_varint(5, seq)
        + f_varint(6, 1 if more_fragment else 0)
        + f_varint(7, group_id)
        + f_varint(8, compression)
        + f_bytes(15, payload, emit_empty=True)
    )


def build_messages(
    payload_chunks: list[bytes],
    base_seq: int,
    producer_id: int,
    *,
    ops_per_payload: int = 128,
    max_payload_size: int = 1 << 20,
    compression: int = COMPRESSION_NONE,
) -> list[tuple[int, bytes]]:
    """The producer framing loop (kafka.go:434-518): group op chunks
    into Payloads, compress each whole marshaled payload, fragment into
    ``max_payload_size`` slices, one seq-stamped Message per fragment
    (group_id = first seq of its group). Deterministic: same chunks +
    same base_seq → byte-identical messages (replay-safe)."""
    msgs: list[tuple[int, bytes]] = []
    seq = base_seq
    for g in range(0, len(payload_chunks), ops_per_payload):
        payload = b"".join(payload_chunks[g : g + ops_per_payload])
        if compression == COMPRESSION_ZLIB:
            payload = zlib.compress(payload)
        elif compression == COMPRESSION_GZIP:
            # gzip framing via zlib with the gzip wbits offset (RFC 1952)
            co = zlib.compressobj(wbits=16 + zlib.MAX_WBITS)
            payload = co.compress(payload) + co.flush()
        group_id = seq + 1
        frags = [payload[i : i + max_payload_size]
                 for i in range(0, len(payload), max_payload_size)] or [b""]
        for idx, frag in enumerate(frags):
            seq += 1
            msgs.append(
                (
                    seq,
                    encode_message(
                        seq=seq,
                        producer_id=producer_id,
                        group_id=group_id,
                        payload=frag,
                        more_fragment=idx < len(frags) - 1,
                        compression=compression,
                    ),
                )
            )
    return msgs


# ---------------------------------------------------------------------------
# decoders (consumer side — the Python port of the reference client)
# ---------------------------------------------------------------------------


def decode_operation(buf: bytes) -> dict:
    f = parse_fields(buf)
    header = parse_fields(_one(f, 1, b""))
    op: dict = {
        "op_type": OP_TYPE_NAME[_i(header, 2)],
        "server_id": _i(header, 1),
        "timestamp": _i(header, 3),
        "log_pos": _i(header, 4),
    }
    op["next_log_name"] = _s(f, 6) or None
    op["next_log_pos"] = _i(f, 7) or None
    op["gtid"] = _s(f, 8) or None
    # proto3 cannot distinguish absent from 0, and f_varint elides the
    # 0 default — so field 10 is the clock's presence witness (real
    # sequence_numbers start at 1; last_committed CAN be 0 for the
    # first group of a binlog and then decodes via the proto3 default)
    has_clock = 10 in f
    op["last_committed"] = _i(f, 9) if has_clock else None
    op["sequence_number"] = _i(f, 10) if has_clock else None
    op["database"] = _s(f, 11) or None
    op["statement"] = _s(f, 12) or None
    if 13 in f:
        td = parse_fields(f[13][-1])
        cols = []
        for cbuf in td.get(3, []):
            c = parse_fields(cbuf)
            cols.append(
                {
                    "name": _s(c, 1),
                    "sql_type": _s(c, 2),
                    "inner_type": _i(c, 3),
                    "unsigned": bool(_i(c, 4)),
                    "key": _s(c, 5),
                    "charset": _s(c, 6),
                }
            )
        op["table"] = {"database": _s(td, 1), "name": _s(td, 2), "columns": cols}
    if 14 in f:
        rows = []
        for rbuf in f[14]:
            r = parse_fields(rbuf)

            def cols_of(n: int, r=r):
                out = []
                for cbuf in r.get(n, []):
                    c = parse_fields(cbuf)
                    out.append(
                        {"is_null": bool(_i(c, 1)), "value": _s(c, 2)}
                    )
                return out

            rows.append({"before": cols_of(1), "after": cols_of(2)})
        op["rows"] = rows
    if 15 in f:
        p = parse_fields(f[15][-1])
        op["progress"] = {
            "flavor": _s(p, 1),
            "server_id": _i(p, 2),
            "log_name": _s(p, 3),
            "log_pos": _i(p, 4),
            "gset": _s(p, 5),
        }
    return op


def decode_message(buf: bytes) -> dict:
    f = parse_fields(buf)
    return {
        "version": _i(f, 1),
        "producer_id": _i(f, 2),
        "seq": _i(f, 5),
        "more_fragment": bool(_i(f, 6)),
        "group_id": _i(f, 7),
        "compression": _i(f, 8),
        "payload": bytes(_one(f, 15, b"")),
    }


def decode_payload_ops(data: bytes, compression: int) -> list[dict]:
    """unmarshalOps (decoder.go:244-267): optional zlib/gzip, then
    Payload."""
    if compression == COMPRESSION_ZLIB:
        data = zlib.decompress(data)
    elif compression == COMPRESSION_GZIP:
        data = zlib.decompress(data, wbits=16 + zlib.MAX_WBITS)
    return [decode_operation(buf) for buf in parse_fields(data).get(1, [])]


@dataclass
class OutputResult:
    """decoder.go:37-45 — a completed fragment group's ops + the
    offset/seq bookkeeping the consumer checkpoints."""

    ops: list[dict]
    begin_seq: int
    end_seq: int
    begin_offset: int
    end_offset: int
    commit_offset: int
    commit_seq: int


@dataclass
class OperationDecoder:
    """Synchronous port of the reference client decode loop
    (decoder.go:146-242): seq-successor dedup, producer-change fragment
    drop, group reassembly by concatenation. ``feed`` returns an
    :class:`OutputResult` when a group completes, else None."""

    last_commit_seq: int = 0
    _cur_seq: int = field(default=0, init=False)
    _cur_producer: int = field(default=0, init=False)
    _fragments: list[bytes] = field(default_factory=list, init=False)
    _group: dict = field(default_factory=dict, init=False)

    def __post_init__(self) -> None:
        self._cur_seq = self.last_commit_seq

    def feed(self, data: bytes, offset: int = 0) -> OutputResult | None:
        msg = decode_message(data)
        if self._cur_seq == 0:
            self._cur_seq = msg["seq"] - 1  # first-ever message seeds the chain
        if msg["seq"] != self._cur_seq + 1:
            return None  # duplicate or disordered: ignore (decoder.go:161-165)
        if msg["producer_id"] != self._cur_producer and self._fragments:
            self._fragments = []  # new producer: drop uncompleted group
        self._cur_producer = msg["producer_id"]
        self._cur_seq = msg["seq"]

        if not self._fragments:
            self._group = {
                "group_id": msg["group_id"],
                "begin_seq": msg["seq"],
                "begin_offset": offset,
                "compression": msg["compression"],
            }
        elif msg["group_id"] != self._group["group_id"]:
            self._fragments = []  # restore the invariant before raising
            raise RuntimeError("unexpected new group amid uncompleted fragments")
        self._fragments.append(msg["payload"])

        if msg["more_fragment"]:
            return None
        try:
            ops = decode_payload_ops(
                b"".join(self._fragments), self._group["compression"]
            )
        except Exception:
            # corrupt payload: drop the group so the NEXT group decodes
            # cleanly (the seq chain already advanced above); callers
            # dead-letter the exception and continue
            self._fragments = []
            raise
        result = OutputResult(
            ops=ops,
            begin_seq=self._group["begin_seq"],
            end_seq=msg["seq"],
            begin_offset=self._group["begin_offset"],
            end_offset=offset,
            commit_offset=offset,
            commit_seq=self._cur_seq,
        )
        self._fragments = []
        return result
