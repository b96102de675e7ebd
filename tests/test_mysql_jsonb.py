"""MySQL binary-JSON (JSONB) decoder tests.

Fixtures are hand-encoded per the public format (mysql-server
sql/json_binary.h / WL#8132); the ``{"a":2}`` bytes are the worklog's
own canonical example, pinning the decoder against the spec rather
than against a same-author encoder.
"""

from __future__ import annotations

import json
import struct

import pytest

from dolphinbeat_spark.sources.mysql_jsonb import (
    JsonbError,
    decode_jsonb,
    parse_jsonb,
)


def enc_varlen(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def enc(value, large: bool = False) -> bytes:
    """Test-side JSONB encoder: returns type byte + data."""
    tp, data = _enc_inner(value, large)
    return bytes([tp]) + data


def _enc_inner(value, large: bool) -> tuple[int, bytes]:
    if value is None:
        return 0x04, b"\x00"
    if value is True:
        return 0x04, b"\x01"
    if value is False:
        return 0x04, b"\x02"
    if isinstance(value, int):
        if -(2**15) <= value < 2**15:
            return 0x05, struct.pack("<h", value)
        if -(2**31) <= value < 2**31:
            return 0x07, struct.pack("<i", value)
        if value >= 2**63:
            return 0x0A, struct.pack("<Q", value)
        return 0x09, struct.pack("<q", value)
    if isinstance(value, float):
        return 0x0B, struct.pack("<d", value)
    if isinstance(value, str):
        raw = value.encode("utf-8")
        return 0x0C, enc_varlen(len(raw)) + raw
    if isinstance(value, list):
        return _enc_container(None, value, large)
    if isinstance(value, dict):
        return _enc_container(list(value.keys()), list(value.values()), large)
    raise TypeError(type(value))


def _enc_container(keys, values, large: bool) -> tuple[int, bytes]:
    osz = 4 if large else 2
    ofmt = "<I" if large else "<H"
    is_object = keys is not None
    count = len(values)
    inline_ok = {0x04, 0x05, 0x06} | ({0x07, 0x08} if large else set())

    header = 2 * osz
    key_entries = count * (osz + 2) if is_object else 0
    value_entries = count * (1 + osz)
    pos = header + key_entries + value_entries

    key_blob = bytearray()
    key_offsets = []
    if is_object:
        for k in keys:
            kb = k.encode("utf-8")
            key_offsets.append((pos + len(key_blob), len(kb)))
            key_blob.extend(kb)
        pos += len(key_blob)

    value_blob = bytearray()
    entries = bytearray()
    for v in values:
        tp, data = _enc_inner(v, large)
        if tp in inline_ok:
            pad = data + b"\x00" * (osz - len(data))
            entries.append(tp)
            entries.extend(pad)
        else:
            entries.append(tp)
            entries.extend(struct.pack(ofmt, pos + len(value_blob)))
            value_blob.extend(data)

    size = header + key_entries + value_entries + len(key_blob) + len(value_blob)
    out = bytearray()
    out.extend(struct.pack(ofmt, count))
    out.extend(struct.pack(ofmt, size))
    if is_object:
        for off, ln in key_offsets:
            out.extend(struct.pack(ofmt, off))
            out.extend(struct.pack("<H", ln))
    out.extend(entries)
    out.extend(key_blob)
    out.extend(value_blob)
    tp = (0x00 if is_object else 0x02) if not large else (0x01 if is_object else 0x03)
    return tp, bytes(out)


def test_worklog_canonical_example():
    # {"a": 2} exactly as laid out in the WL#8132 spec text
    payload = bytes(
        [0x00,  # small object
         0x01, 0x00,  # count 1
         0x0C, 0x00,  # size 12
         0x0B, 0x00,  # key offset 11
         0x01, 0x00,  # key length 1
         0x05, 0x02, 0x00,  # value entry: inlined int16 2
         0x61]  # 'a'
    )
    assert parse_jsonb(payload) == {"a": 2}
    assert decode_jsonb(payload) == '{"a":2}'


@pytest.mark.parametrize(
    "value",
    [
        None, True, False, 0, 1, -1, 32767, -32768, 40000, -40000,
        2**31, -(2**31), 2**63 - 1, 2**63 + 5, 1.5, -0.25,
        "", "hello", "naïve — 中文", "x" * 200,  # 200 > 127: 2-byte varlen
    ],
)
def test_scalar_roundtrip(value):
    assert parse_jsonb(enc(value)) == value


def test_nested_document():
    doc = {
        "a": 1,
        "big": 2**40,
        "arr": [1, "two", {"x": True, "y": None}, [3.5]],
        "s": "text",
        "n": None,
    }
    got = parse_jsonb(enc(doc))
    assert got == doc
    # compact text form round-trips through a JSON parser
    assert json.loads(decode_jsonb(enc(doc))) == doc


def test_large_format():
    doc = {"k": [1, 2**31 - 1, "v", False], "other": {"deep": 2**34}}
    assert parse_jsonb(enc(doc, large=True)) == doc
    # int32 is INLINED in large format — no out-of-line record
    arr = enc([2**20], large=True)
    assert parse_jsonb(arr) == [2**20]


def test_empty_containers_and_null_column():
    assert parse_jsonb(enc({})) == {}
    assert parse_jsonb(enc([])) == []
    assert parse_jsonb(b"") is None  # JSON NULL column = empty payload


@pytest.mark.parametrize(
    "payload",
    [
        b"\x05\x01",            # int16 truncated
        b"\x0c\x05ab",          # string shorter than its length
        b"\x00\x01\x00",        # object header truncated
        b"\x04\x09",            # bad literal
        b"\xee\x00",            # unknown type byte
        b"\x0c" + b"\xff" * 5,  # varlen runs past 5 bytes
        b"\x0f\xf6\x01\x02",    # opaque decimal missing precision/scale header
    ],
)
def test_malformed_raises(payload):
    with pytest.raises(JsonbError):
        parse_jsonb(payload)


def test_offset_escape_rejected():
    # value entry pointing outside the container's declared size
    payload = bytes(
        [0x02,            # small array
         0x01, 0x00,      # count 1
         0x07, 0x00,      # size 7
         0x0C, 0x63, 0x00]  # string entry with offset 0x63 >= size
    )
    with pytest.raises(JsonbError):
        parse_jsonb(payload)


def test_envelope_integration_json_column():
    """decode_event renders a JSON column as JSON text: raw JSONB
    bytes through the from-scratch decoder, pre-parsed dicts
    re-serialized compactly."""
    from types import SimpleNamespace

    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.sources.binlog_source import DecodeContext, decode_event

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE test.j (id INT PRIMARY KEY, doc JSON)")
    ctx = DecodeContext(registry=reg, log_name="binlog.000001")

    doc = {"a": 1, "arr": [True, None, "s"]}
    ev = SimpleNamespace(
        kind="insert", schema="test", table="j", timestamp=1000, log_pos=4,
        rows=[{"id": 1, "doc": enc(doc)}, {"id": 2, "doc": doc}, {"id": 3, "doc": None}],
    )
    ops = decode_event(ev, ctx)
    assert [o["row_index"] for o in ops] == [0, 1, 2]
    assert json.loads(ops[0]["after"]["doc"]) == doc
    assert ops[1]["after"]["doc"] == ops[0]["after"]["doc"]  # same compact text
    assert ops[2]["after"]["doc"] == "" and ops[2]["after_null"]["doc"] is True
    # non-JSON column untouched
    assert ops[0]["after"]["id"] == "1"


def _opaque(field_type: int, data: bytes) -> bytes:
    return bytes([0x0F, field_type]) + enc_varlen(len(data)) + data


def test_opaque_decimal_internals_manual_fixture():
    """DECIMAL(14,4) 1234567890.1234 — byte layout straight from the
    MySQL internals manual's packed-decimal example."""
    from decimal import Decimal

    packed = bytes([14, 4, 0x81, 0x0D, 0xFB, 0x38, 0xD2, 0x04, 0xD2])
    payload = _opaque(0xF6, packed)
    assert parse_jsonb(payload) == Decimal("1234567890.1234")
    assert decode_jsonb(payload) == "1234567890.1234"

    # negative = full complement of the same bytes
    neg = bytes([14, 4]) + bytes(~b & 0xFF for b in packed[2:])
    assert parse_jsonb(_opaque(0xF6, neg)) == Decimal("-1234567890.1234")

    # scale preserved: 1.20 stays "1.20"
    small = bytes([3, 2, 0x81, 0x14])  # DECIMAL(3,2) +1.20
    assert decode_jsonb(_opaque(0xF6, small)) == "1.20"
    # zero renders unsigned
    zero = bytes([3, 2, 0x80, 0x00])
    assert decode_jsonb(_opaque(0xF6, zero)) == "0.00"


def test_opaque_temporal():
    import struct as _s

    def packed_datetime(y, mo, d, h, mi, s, us=0):
        ymd = ((y * 13 + mo) << 5) | d
        hms = (h << 12) | (mi << 6) | s
        return _s.pack("<q", (((ymd << 17) | hms) << 24) | us)

    dt = _opaque(0x0C, packed_datetime(2015, 1, 15, 23, 24, 25))
    assert parse_jsonb(dt) == "2015-01-15 23:24:25.000000"
    assert decode_jsonb(dt) == '"2015-01-15 23:24:25.000000"'

    date = _opaque(0x0A, packed_datetime(1999, 12, 31, 0, 0, 0))
    assert parse_jsonb(date) == "1999-12-31"

    def packed_time(h, mi, s, us=0, neg=False):
        v = (((h << 12) | (mi << 6) | s) << 24) | us
        return _s.pack("<q", -v if neg else v)

    t = _opaque(0x0B, packed_time(838, 59, 59, 123456))
    assert parse_jsonb(t) == "838:59:59.123456"
    assert parse_jsonb(_opaque(0x0B, packed_time(1, 2, 3, neg=True))) == "-01:02:03.000000"

    # timestamp opaque renders as datetime text
    ts = _opaque(0x07, packed_datetime(2020, 6, 1, 12, 0, 0, 42))
    assert parse_jsonb(ts) == "2020-06-01 12:00:00.000042"


def test_opaque_inside_document():
    from decimal import Decimal

    packed = bytes([5, 2, 0x80, 0x7B, 0x2D])  # DECIMAL(5,2) 123.45
    # hand-build {"d": <opaque decimal>}: key entry + out-of-line value
    body = _opaque(0xF6, packed)
    val_bytes = body[1:]  # out-of-line value excludes the entry's type byte
    obj = bytearray()
    obj += (1).to_bytes(2, "little")                    # count
    size = 2 + 2 + 4 + 3 + 1 + len(val_bytes)
    obj += size.to_bytes(2, "little")                   # size
    obj += (2 + 2 + 4 + 3).to_bytes(2, "little")        # key offset
    obj += (1).to_bytes(2, "little")                    # key len
    obj += bytes([0x0F]) + (2 + 2 + 4 + 3 + 1).to_bytes(2, "little")  # value entry
    obj += b"d"
    obj += val_bytes
    payload = bytes([0x00]) + bytes(obj)
    assert parse_jsonb(payload) == {"d": Decimal("123.45")}
    assert decode_jsonb(payload) == '{"d":123.45}'


def test_unknown_opaque_still_raises():
    with pytest.raises(JsonbError):
        parse_jsonb(_opaque(0x01, b"\x05"))  # TINY int opaque: not a JSONB thing


from hypothesis import given, settings
from hypothesis import strategies as st

_json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**63), max_value=2**64 - 1)
    | st.floats(allow_nan=False, allow_infinity=False, width=64)
    | st.text(max_size=40),
    lambda children: st.lists(children, max_size=5)
    | st.dictionaries(st.text(max_size=10), children, max_size=5),
    max_leaves=20,
)


@settings(max_examples=200, deadline=None)
@given(_json_values, st.booleans())
def test_jsonb_roundtrip_property(value, large):
    """Any JSON document survives encode→decode in both the small and
    large container formats, and the rendered text re-parses to the
    same document."""
    import json as _json

    payload = enc(value, large=large)
    assert parse_jsonb(payload) == value
    assert _json.loads(decode_jsonb(payload)) == value


@settings(max_examples=100, deadline=None)
@given(_json_values, st.integers(min_value=0, max_value=60))
def test_jsonb_truncation_never_misdecodes(value, cut):
    """A truncated payload either raises JsonbError or (when the cut
    lands beyond every referenced byte) decodes to the same document —
    it must never silently return a DIFFERENT document... for scalars
    and containers alike, wrong-silent is the failure mode that
    corrupts a CDC stream."""
    payload = enc(value)
    if cut >= len(payload) or cut == 0:
        # cut == 0 is the empty payload: by convention a JSON NULL
        # column value, not a truncation
        return
    truncated = payload[:cut]
    try:
        got = parse_jsonb(truncated)
    except JsonbError:
        return
    assert got == value


def test_corrupt_key_offset_rejected():
    """Review repro: {"a":2} with the key offset bumped to point past
    the container (at a junk byte) must raise, not decode {"Z":2}."""
    payload = bytes(
        [0x00, 0x01, 0x00, 0x0C, 0x00,
         0x0C, 0x00,  # key offset 12 == size (outside)
         0x01, 0x00, 0x05, 0x02, 0x00, 0x61, 0x5A]
    )
    with pytest.raises(JsonbError):
        parse_jsonb(payload)


def test_self_referential_offset_rejected():
    """Review repro: an array whose value entry points back at its own
    container header must raise JsonbError, not RecursionError."""
    payload = bytes([0x02, 0x01, 0x00, 0x07, 0x00, 0x02, 0x00, 0x00])
    with pytest.raises(JsonbError):
        parse_jsonb(payload)
