"""Binlog decode + offset algebra tests (no live MySQL needed).

Drives sources/binlog_source.py::decode_event with duck-typed fake
events through the reference's canonical scenario (SURVEY.md §5:
canal/canal_test.go:50-134): create → inserts → ALTER → insert with
new schema, plus rotate/gtid/commit framing.
"""

from __future__ import annotations

from types import SimpleNamespace as NS

import pytest

from dolphinbeat_spark.schema.registry import SchemaRegistry
from dolphinbeat_spark.sources.binlog_source import BinlogOffset, DecodeContext, decode_event


def _ctx() -> DecodeContext:
    return DecodeContext(registry=SchemaRegistry(), log_name="binlog.000001", server_id=1)


def test_full_canal_scenario():
    ctx = _ctx()
    ops = []

    def feed(**kw):
        ops.extend(decode_event(NS(**kw), ctx))

    feed(kind="rotate", next_binlog="binlog.000002", position=4, log_pos=0, timestamp=0)
    assert ctx.log_name == "binlog.000002"
    feed(kind="query", query="CREATE TABLE test.canal_test (id INT PRIMARY KEY, content BLOB, name VARCHAR(100))",
         schema="test", log_pos=200, timestamp=10)
    assert ops[-1]["op_type"] == "ddl" and ops[-1]["schema_version"] == 1
    feed(kind="gtid", gtid="uuid:1", log_pos=220, timestamp=11)
    feed(kind="query", query="BEGIN", schema="", log_pos=240, timestamp=11)
    feed(kind="insert", schema="test", table="canal_test",
         rows=[(1, b"1", "a"), (2, None, "b")], log_pos=260, timestamp=11)
    feed(kind="xid", log_pos=280, timestamp=11)

    inserts = [o for o in ops if o["op_type"] == "insert"]
    assert len(inserts) == 2
    # positional row named via the registry (reference D10); blob
    # bytes stringify as the RAW byte string (reference D12 parity),
    # not Python's b'...' repr
    assert inserts[0]["after"] == {"id": "1", "content": "1", "name": "a"}
    assert inserts[1]["after_null"] == {"id": False, "content": True, "name": False}
    assert inserts[1]["after"]["content"] == ""  # NULL stringifies to "" + flag
    commit = ops[-1]
    assert commit["op_type"] == "commit" and commit["gtid"] == "uuid:1"

    # ALTER mid-stream; subsequent insert resolves the NEW schema
    feed(kind="query", query="ALTER TABLE test.canal_test ADD age INT AFTER name",
         schema="test", log_pos=300, timestamp=12)
    feed(kind="insert", schema="test", table="canal_test",
         rows=[(3, None, "d", 18)], log_pos=320, timestamp=12)
    last = ops[-1]
    assert last["after"] == {"id": "3", "content": "", "name": "d", "age": "18"}
    assert last["schema_version"] == ctx.registry.version


def test_update_pairs_before_after():
    ctx = _ctx()
    decode_event(
        NS(kind="query", query="CREATE TABLE t.u (id INT PRIMARY KEY, v VARCHAR(5))",
           schema="t", log_pos=10, timestamp=1),
        ctx,
    )
    [op] = decode_event(
        NS(kind="update", schema="t", table="u", rows=[((1, "a"), (1, "b"))],
           log_pos=20, timestamp=2),
        ctx,
    )
    assert op["before"] == {"id": "1", "v": "a"}
    assert op["after"] == {"id": "1", "v": "b"}


def test_non_ddl_query_surfaces_as_query_op():
    """Reference F4 silently drops these; we keep them observable."""
    ctx = _ctx()
    [op] = decode_event(
        NS(kind="query", query="INSERT INTO t VALUES (1)", schema="d", log_pos=5, timestamp=1),
        ctx,
    )
    assert op["op_type"] == "query"


def test_offset_algebra():
    """Reference progress tests (canal/prog/progress_test.go)."""
    a = BinlogOffset("binlog.000001", 99, "", 1)
    b = BinlogOffset("binlog.000001", 199, "", 1)
    c = BinlogOffset("binlog.000002", 4, "", 1)
    assert a.compare(b) == -1 and b.compare(a) == 1 and a.compare(a) == 0
    assert b.compare(c) == -1  # file name dominates
    assert BinlogOffset().is_zero()
    assert BinlogOffset(gtid_set="").is_zero()  # empty-string gset is zero
    assert not BinlogOffset(gtid_set="uuid:1-5").is_zero()
    other_server = BinlogOffset("binlog.000001", 50, "", 2)
    with pytest.raises(ValueError):
        a.compare(other_server)  # C2 caveat: cross-server undefined
    rt = BinlogOffset.from_json(a.to_json())
    assert rt == a


def test_stringify_blob_bytes_raw_not_repr():
    """A bytes value in a non-JSON column renders as the RAW byte
    string (reference parity: go string(bytes)), never Python's
    "b'...'" repr; non-UTF8 bytes round-trip via the latin-1
    fallback."""
    from dolphinbeat_spark.sources.binlog_source import _stringify

    vals, nulls = _stringify({"a": b"plain", "b": b"\xff\x00ok", "c": 7}, None)
    assert vals["a"] == "plain"
    assert vals["b"].encode("latin-1") == b"\xff\x00ok"  # 1:1 reversible
    assert not vals["b"].startswith("b'")
    assert vals["c"] == "7"
    assert nulls == {"a": False, "b": False, "c": False}


def test_stringify_nonutf8_blob_survives_spark(spark):
    """The latin-1 fallback produces strings that cross Spark's UTF-8
    boundary (an escape scheme using lone surrogates would throw at
    serialization)."""
    from dolphinbeat_spark.sources.binlog_source import _stringify

    vals, _ = _stringify({"blob": bytes(range(256))}, None)
    df = spark.createDataFrame([(vals["blob"],)], "blob string")
    [row] = df.collect()
    assert row["blob"].encode("latin-1") == bytes(range(256))


def test_enum_set_values_render_canonically_both_routes():
    """ENUM/SET wire values reach decode as the int index / bitmask
    the in-repo parser yields (for the live and the file route alike)
    and render to canonical text: labels resolved via the registry's
    column definition, set members in definition order."""
    ctx = _ctx()
    decode_event(
        NS(kind="query", schema="test", log_pos=50, timestamp=1,
           query="CREATE TABLE test.e (id INT PRIMARY KEY, "
                 "status ENUM('New','active','closed'), "
                 "flags SET('a','b','c','d'))"),
        ctx,
    )
    # file-parser shape: 1-based index / bitmask
    ops = decode_event(
        NS(kind="insert", schema="test", table="e",
           rows=[(1, 2, 0b1010), (2, 0, 0)], log_pos=60, timestamp=1),
        ctx,
    )
    assert ops[0]["after"] == {"id": "1", "status": "active", "flags": "b,d"}
    assert ops[1]["after"] == {"id": "2", "status": "", "flags": ""}
    # label case preserved from the DDL (not lowercased)
    ops = decode_event(
        NS(kind="insert", schema="test", table="e",
           rows=[(3, 1, 0b0001)], log_pos=70, timestamp=1),
        ctx,
    )
    assert ops[0]["after"]["status"] == "New"
    # out-of-definition index / unknown set bit: raw number fallback,
    # never a crash or silent wrong label
    ops = decode_event(
        NS(kind="insert", schema="test", table="e",
           rows=[(5, 9, 1 << 6)], log_pos=90, timestamp=1),
        ctx,
    )
    assert ops[0]["after"]["status"] == "9"
    assert ops[0]["after"]["flags"] == "64"


def test_parse_labels_backslash_escapes():
    """ENUM/SET label tokenizing must honor BOTH MySQL quote escapes:
    the doubled quote ('') and the backslash forms (\\' \\\\) MySQL
    emits when NO_BACKSLASH_ESCAPES is off (ADVICE r7)."""
    from dolphinbeat_spark.sources.binlog_source import _parse_labels

    assert _parse_labels("enum('a','b')") == ["a", "b"]
    assert _parse_labels("enum('it''s','x')") == ["it's", "x"]
    assert _parse_labels("enum('it\\'s','x')") == ["it's", "x"]
    assert _parse_labels("set('a\\\\b','c')") == ["a\\b", "c"]
    # mixed in one definition; escape as the label's last char
    assert _parse_labels("enum('q\\'','\\\\','d''d')") == ["q'", "\\", "d'd"]


def _drift_ctx() -> DecodeContext:
    ctx = _ctx()
    decode_event(NS(kind="query", query="CREATE TABLE test.t (id INT PRIMARY KEY, name VARCHAR(20), qty INT)",
                    schema="test", log_pos=100, timestamp=1), ctx)
    return ctx


@pytest.mark.parametrize("kind,rows", [
    ("insert", [(1, "a", 2), (1, 3)]),
    ("delete", [(1, "a", 2, "new")]),
    ("update", [((1, "a", 2), (1, 3))]),
    ("update", [((1, 3), (1, "a", 2))]),
])
def test_row_image_narrower_or_wider_than_the_registry_raises(kind, rows):
    """A positional image is named by position; one that is not as
    wide as the TableDef would shift or drop values silently (``(1, 3)``
    against ``[id, name, qty]`` read as ``{'id': '1', 'name': '3'}``)."""
    from dolphinbeat_spark.schema.registry import SchemaDriftError

    ctx = _drift_ctx()
    with pytest.raises(SchemaDriftError, match=r"test\.t: a \w+ row image has [24] columns"):
        decode_event(NS(kind=kind, schema="test", table="t", rows=rows, log_pos=200, timestamp=2), ctx)


def test_minimal_image_placeholders_and_named_rows_pass_the_width_check():
    from dolphinbeat_spark.sources.binlog_file import ABSENT

    ctx = _drift_ctx()
    ops = decode_event(NS(kind="update", schema="test", table="t", log_pos=200, timestamp=2,
                          rows=[((1, ABSENT, ABSENT), (1, ABSENT, 5))]), ctx)
    assert ops[0]["before"] == {"id": "1"} and ops[0]["after"] == {"id": "1", "qty": "5"}
    ops = decode_event(NS(kind="insert", schema="test", table="t", log_pos=300, timestamp=3,
                          rows=[{"id": 2, "qty": 4}]), ctx)
    assert ops[0]["after"] == {"id": "2", "qty": "4"}
    # a table the registry does not know is named col_<i>, unchecked
    ops = decode_event(NS(kind="insert", schema="test", table="unknown", log_pos=400,
                          timestamp=4, rows=[(1, 2)]), ctx)
    assert ops[0]["after"] == {"col_0": "1", "col_1": "2"}
