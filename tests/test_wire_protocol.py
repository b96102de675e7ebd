"""Protobuf wire-format round-trip tests (reference K5/K7 drop-in
contract): produce protobuf(+zlib, +fragments) → the Python port of the
reference client decoder → original ops, seq-dedup intact.

Byte-level checks verify the proto3 encoding itself (varints, tags,
default skipping) so any stock protobuf decoder compiled from the
reference's .proto reads these messages.
"""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from dolphinbeat_spark.envelope import golden_sequences
from dolphinbeat_spark.schema.registry import SchemaRegistry
from dolphinbeat_spark.sinks import wire_protocol as wp


def _registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.apply_ddl(
        "CREATE TABLE test.canal_test (id INT PRIMARY KEY, name VARCHAR(100), content BLOB)"
    )
    return reg


def _table_def(reg: SchemaRegistry, row: dict):
    if row["op_type"] in ("insert", "update", "delete"):
        return reg.get(row["db"], row["table"])
    return None


# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------


def test_varint_roundtrip():
    for n in (0, 1, 127, 128, 300, 2**32 - 1, 2**63, 2**64 - 1):
        buf = wp._uvarint(n)
        got, i = wp.read_uvarint(buf, 0)
        assert got == n and i == len(buf)
    # known encodings from the public spec
    assert wp._uvarint(1) == b"\x01"
    assert wp._uvarint(300) == b"\xac\x02"


def test_proto3_default_skipping():
    # zero varint / empty string fields are not emitted (proto3)
    assert wp.f_varint(2, 0) == b""
    assert wp.f_str(3, "") == b""
    assert wp.f_str(3, None) == b""
    # but repeated elements emit even when empty
    assert wp.f_bytes(1, b"", emit_empty=True) == b"\x0a\x00"


def test_column_encoding_matches_reference_semantics():
    # NULL → is_null=true + value "" (operation.go:165-178)
    null_col = wp.encode_column(None, True)
    assert wp.parse_fields(null_col) == {1: [1]}
    # empty string (non-null) → empty message (all defaults)
    assert wp.encode_column("", False) == b""
    got = wp.parse_fields(wp.encode_column("abc", False))
    assert bytes(got[2][0]) == b"abc"


def test_inner_type_codes():
    assert wp.inner_type_code("int(11)") == 3
    assert wp.inner_type_code("bigint unsigned") == 8
    assert wp.inner_type_code("varchar(100)") == 15
    assert wp.inner_type_code("decimal(10,2)") == 246
    assert wp.inner_type_code("longblob") == 251
    assert wp.inner_type_code("json") == 245
    assert wp.inner_type_code("mystery") == 253  # VAR_STRING fallback
    # classic protocol codes, matching the reference's schema tracker
    # (schema/definition.go:30-37) — NOT the binlog '2' storage codes
    assert wp.inner_type_code("timestamp") == 7
    assert wp.inner_type_code("datetime") == 12
    assert wp.inner_type_code("time") == 11


# ---------------------------------------------------------------------------
# operation round-trip
# ---------------------------------------------------------------------------


def test_operation_roundtrip_all_golden_ops():
    reg = _registry()
    for row in golden_sequences():
        buf = wp.encode_operation(row, _table_def(reg, row))
        op = wp.decode_operation(buf)
        assert op["op_type"] == row["op_type"]
        assert op["log_pos"] == (row["log_pos"] or 0)
        if row["op_type"] == "rotate":
            assert op["next_log_name"] == row["next_log_name"]
            assert op["next_log_pos"] == row["next_log_pos"]
        if row["op_type"] == "commit":
            assert op["gtid"] is None  # commit carries progress, not gtid field
            assert op["progress"]["gset"] == row["progress"]["gset"]
            assert op["progress"]["log_pos"] == row["progress"]["log_pos"]
        if row["op_type"] == "ddl":
            assert op["statement"] == row["statement"]
            assert op["database"] == row["db"]
            assert op["progress"]["flavor"] == "mysql"


def test_row_images_positional_and_null_flag():
    reg = _registry()
    insert = next(
        r for r in golden_sequences()
        if r["op_type"] == "insert" and r["after_null"]["content"]
    )
    op = wp.decode_operation(wp.encode_operation(insert, _table_def(reg, insert)))
    cols = op["table"]["columns"]
    assert [c["name"] for c in cols] == ["id", "name", "content"]
    assert cols[0]["inner_type"] == 3  # int → LONG
    assert cols[0]["key"] == "PRI"
    after = op["rows"][0]["after"]
    assert [c["value"] for c in after] == ["3", "c", ""]
    assert [c["is_null"] for c in after] == [False, False, True]

    update = next(r for r in golden_sequences() if r["op_type"] == "update")
    op = wp.decode_operation(wp.encode_operation(update, _table_def(reg, update)))
    assert [c["value"] for c in op["rows"][0]["before"]] == ["1", "a", ""]
    assert [c["value"] for c in op["rows"][0]["after"]] == ["1", "a2", ""]


# ---------------------------------------------------------------------------
# message framing: fragmentation + zlib + seq-dedup (decoder contract)
# ---------------------------------------------------------------------------


def _chunks(reg=None):
    reg = reg or _registry()
    return [
        wp.payload_chunk(wp.encode_operation(r, _table_def(reg, r)))
        for r in golden_sequences()
    ]


def test_message_roundtrip_single():
    msgs = wp.build_messages(_chunks(), base_seq=41, producer_id=9)
    assert len(msgs) == 1  # everything fits one payload
    seq, data = msgs[0]
    assert seq == 42
    m = wp.decode_message(data)
    assert m["version"] == 1 and m["producer_id"] == 9
    assert m["seq"] == 42 and m["group_id"] == 42
    assert not m["more_fragment"] and m["compression"] == wp.COMPRESSION_NONE
    ops = wp.decode_payload_ops(m["payload"], m["compression"])
    assert [o["op_type"] for o in ops] == [r["op_type"] for r in golden_sequences()]


def test_zlib_in_band_compression():
    msgs = wp.build_messages(
        _chunks(), base_seq=0, producer_id=1, compression=wp.COMPRESSION_ZLIB
    )
    m = wp.decode_message(msgs[0][1])
    assert m["compression"] == wp.COMPRESSION_ZLIB
    # the payload really is zlib bytes (stock zlib.decompress reads it,
    # like compress/zlib in the Go client, decoder.go:244-267)
    raw = zlib.decompress(m["payload"])
    ops = wp.decode_payload_ops(m["payload"], m["compression"])
    assert len(wp.parse_fields(raw)[1]) == len(ops) == len(golden_sequences())


def test_fragmentation_and_reassembly():
    # tiny max_payload_size → many fragments; compress-then-fragment
    # order must match kafka.go (compress whole payload, slice bytes)
    msgs = wp.build_messages(
        _chunks(), base_seq=0, producer_id=1,
        max_payload_size=64, compression=wp.COMPRESSION_ZLIB,
    )
    assert len(msgs) > 1
    heads = [wp.decode_message(d) for _, d in msgs]
    assert all(h["group_id"] == 1 for h in heads)
    assert [h["seq"] for h in heads] == list(range(1, len(msgs) + 1))
    assert all(h["more_fragment"] for h in heads[:-1])
    assert not heads[-1]["more_fragment"]

    dec = wp.OperationDecoder()
    results = [dec.feed(d, offset=i) for i, (_, d) in enumerate(msgs)]
    assert all(r is None for r in results[:-1])
    out = results[-1]
    assert out is not None
    assert [o["op_type"] for o in out.ops] == [r["op_type"] for r in golden_sequences()]
    assert out.begin_seq == 1 and out.end_seq == len(msgs)
    assert out.commit_offset == len(msgs) - 1


def test_decoder_seq_dedup_ignores_duplicates_and_gaps():
    msgs = wp.build_messages(
        _chunks(), base_seq=0, producer_id=1, ops_per_payload=4
    )
    assert len(msgs) >= 3
    dec = wp.OperationDecoder()
    got_ops = []
    # at-least-once transport: every message delivered twice
    for i, (_, d) in enumerate(msgs):
        for _ in range(2):
            r = dec.feed(d, offset=i)
            if r:
                got_ops.extend(r.ops)
    assert [o["op_type"] for o in got_ops] == [r["op_type"] for r in golden_sequences()]
    # a replayed PREFIX (producer restart from an earlier offset) is ignored too
    for i, (_, d) in enumerate(msgs[:2]):
        assert dec.feed(d, offset=i) is None


def test_decoder_drops_uncompleted_group_on_producer_change():
    frag_msgs = wp.build_messages(
        _chunks(), base_seq=0, producer_id=1, max_payload_size=64
    )
    assert len(frag_msgs) > 2
    dec = wp.OperationDecoder()
    dec.feed(frag_msgs[0][1], offset=0)  # first fragment only
    # new producer takes over mid-group: its fresh stream must decode
    msgs2 = wp.build_messages(_chunks(), base_seq=1, producer_id=2)
    out = dec.feed(msgs2[0][1], offset=5)
    assert out is not None  # uncompleted group dropped, new group decoded
    assert [o["op_type"] for o in out.ops] == [r["op_type"] for r in golden_sequences()]


def test_decoder_resumes_from_last_commit_seq():
    msgs = wp.build_messages(_chunks(), base_seq=0, producer_id=1, ops_per_payload=4)
    dec = wp.OperationDecoder(last_commit_seq=msgs[0][0])
    assert dec.feed(msgs[0][1], offset=0) is None  # already consumed
    out = dec.feed(msgs[1][1], offset=1)
    assert out is not None and out.begin_seq == msgs[1][0]


# ---------------------------------------------------------------------------
# the Spark sink: distributed encode + foreachBatch produce, replay-stable
# ---------------------------------------------------------------------------


@pytest.fixture()
def golden_df(spark):
    from dolphinbeat_spark.sources.fixture_source import golden_envelope_df

    return golden_envelope_df(spark)


def test_protobuf_sink_end_to_end(spark, tmp_path, golden_df):
    from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink

    captured: list[tuple[int, bytes]] = []
    sink = ProtobufKafkaSink(
        meta_dir=str(tmp_path / "meta"),
        registry=_registry(),
        produce=lambda seq, value: captured.append((seq, value)),
        producer_id=7,
        ops_per_payload=4,
        compression="zlib",
    )
    sink(golden_df, batch_id=0)
    assert captured and captured[0][0] == 1

    dec = wp.OperationDecoder()
    ops = []
    for i, (_, data) in enumerate(captured):
        r = dec.feed(data, offset=i)
        if r:
            ops.extend(r.ops)
    n_golden = len(golden_sequences())
    assert len(ops) == n_golden
    # order preserved through distributed encode + single-partition sort
    pos = [o["log_pos"] for o in ops if o["op_type"] != "rotate"]
    assert pos == sorted(pos)
    ins = [o for o in ops if o["op_type"] == "insert"]
    assert [c["value"] for c in ins[0]["rows"][0]["after"]] == ["1", "a", ""]
    assert ins[2]["rows"][0]["after"][2]["is_null"] is True
    assert ins[0]["table"]["database"] == "test"

    # replay of the SAME batch id regenerates byte-identical messages
    captured2: list[tuple[int, bytes]] = []
    sink.produce = lambda seq, value: captured2.append((seq, value))
    sink(golden_df, batch_id=0)
    assert captured2 == captured
    # and the decoder ignores the whole replay (seq-dedup, K7)
    for i, (_, data) in enumerate(captured2):
        assert dec.feed(data, offset=i) is None

    # a NEW batch continues the seq chain
    captured3: list[tuple[int, bytes]] = []
    sink.produce = lambda seq, value: captured3.append((seq, value))
    sink(golden_df, batch_id=1)
    assert captured3[0][0] == captured[-1][0] + 1
    assert all(dec.feed(d, offset=i) is not None or True for i, (_, d) in enumerate(captured3))
    # decoder accepted the continuation (its seq advanced)
    assert dec._cur_seq == captured3[-1][0]


def test_spark_protobuf_consumer(spark, tmp_path, golden_df):
    """The kafka-consumer tool restatement: a DataFrame of produced
    protobuf messages (two producers, duplicates included) decodes back
    to ordered op rows via per-producer applyInPandas chains."""
    from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink, decode_protobuf_messages

    captured: list[tuple[int, bytes]] = []
    sink = ProtobufKafkaSink(
        meta_dir=str(tmp_path / "meta"),
        registry=_registry(),
        produce=lambda seq, value: captured.append((seq, value)),
        producer_id=1,
        ops_per_payload=4,
        compression="zlib",
    )
    sink(golden_df, batch_id=0)
    # a second producer with its own chain, plus duplicated delivery of
    # producer 1's messages (at-least-once transport)
    captured2: list[tuple[int, bytes]] = []
    sink2 = ProtobufKafkaSink(
        meta_dir=str(tmp_path / "meta2"),
        registry=_registry(),
        produce=lambda seq, value: captured2.append((seq, value)),
        producer_id=2,
        ops_per_payload=4,
    )
    sink2(golden_df, batch_id=0)
    values = [bytearray(v) for _, v in captured + captured + captured2]

    msgs = spark.createDataFrame([(v,) for v in values], "value binary")
    got = decode_protobuf_messages(msgs)
    n_golden = len(golden_sequences())
    by_producer = {
        r["producer_id"]: r["n"]
        for r in got.groupBy("producer_id").count().withColumnRenamed("count", "n").collect()
    }
    # duplicates collapsed by the seq chain; both producers fully decoded
    assert by_producer == {1: n_golden, 2: n_golden}
    p1 = got.filter("producer_id = 1").orderBy("end_seq", "op_index").collect()
    # the sink's deterministic (log_name, log_pos, op_rank, row_index)
    # total order places the duplicated producer-retry op adjacent to
    # its twin; rank puts commit before the rotate that shares its pos
    rank = {"gtid": 1, "begin": 2, "commit": 4, "rotate": 5}
    expected = [
        o["op_type"]
        for o in sorted(
            golden_sequences(),
            key=lambda o: (
                o["log_name"] or "", o["log_pos"] or 0,
                rank.get(o["op_type"], 3), o["row_index"] or 0,
            ),
        )
    ]
    assert [r["op_type"] for r in p1] == expected
    ddl = next(r for r in p1 if r["op_type"] == "ddl")
    assert "ALTER TABLE" in ddl["statement"] and ddl["progress_gset"]


def _multirow_operation(n_rows: int) -> bytes:
    """Hand-assemble an Operation the way the REFERENCE producer packs
    a multi-row RowsEvent: one Operation, repeated ``Row rows = 14``
    (operation.go:33-73) — this repo's producer emits one row per op,
    so the multi-row shape must be built explicitly to test the
    consumer against a foreign producer's output."""
    reg = _registry()
    td = reg.get("test", "canal_test")
    header = (
        wp.f_varint(1, 1) + wp.f_varint(2, wp.OP_TYPE_CODE["insert"])
        + wp.f_varint(3, 1000) + wp.f_varint(4, 777)
    )
    out = bytearray()
    out += wp.f_bytes(1, header, emit_empty=True)
    out += wp.f_bytes(13, wp.encode_table_def(td), emit_empty=True)
    for i in range(n_rows):
        after = [(str(i + 1), False), (chr(ord("a") + i), False), ("", i == n_rows - 1)]
        out += wp.f_bytes(14, wp.encode_row(None, after), emit_empty=True)
    return bytes(out)


def test_multirow_operation_fans_out_one_row_per_image(spark):
    """A reference-produced Operation carrying N row images must decode
    to N consumer rows (row_index 0..N-1), not just the first."""
    from dolphinbeat_spark.sinks.ordered import decode_protobuf_messages, op_row_tails

    op_bytes = _multirow_operation(3)
    # direct flatten: one tail per row image
    op = wp.decode_operation(op_bytes)
    assert len(op["rows"]) == 3
    tails = op_row_tails(op)
    assert len(tails) == 3
    afters = [t[-2] for t in tails]  # `after` map is second-to-last
    assert [a["id"] for a in afters] == ["1", "2", "3"]
    assert [a["name"] for a in afters] == ["a", "b", "c"]
    nulls = [t[-1] for t in tails]
    assert [n["content"] for n in nulls] == [False, False, True]

    # and through the full Spark consumer chain
    msgs = wp.build_messages([wp.payload_chunk(op_bytes)], base_seq=0, producer_id=1)
    df = spark.createDataFrame([(bytearray(v),) for _, v in msgs], "value binary")
    got = decode_protobuf_messages(df).orderBy("row_index").collect()
    assert [r["row_index"] for r in got] == [0, 1, 2]
    assert [r["after"]["id"] for r in got] == ["1", "2", "3"]
    assert all(r["op_type"] == "insert" and r["log_pos"] == 777 for r in got)


def test_pack_rows_producer_matches_reference_wire_shape(spark, tmp_path):
    """pack_rows=True regroups the source's one-op-per-row envelope
    into ONE Operation per RowsEvent with repeated Row images — the
    reference producer's wire shape — and the decoded stream is
    identical to the unpacked path's."""
    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sources.fixture_source import golden_envelope_df
    from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink, decode_protobuf_messages

    # a 3-row insert event: three envelope ops sharing log_pos
    common = dict(server_id=1, log_name="binlog.000001", timestamp=1000,
                  db="test", table="canal_test", schema_version=1)
    multi = [
        empty_op(op_type="insert", log_pos=900, row_index=i,
                 after={"id": str(50 + i), "name": chr(ord("x") + i), "content": ""},
                 after_null={"id": False, "name": False, "content": i == 2},
                 **common)
        for i in range(3)
    ]
    batch = golden_envelope_df(spark).unionByName(
        spark.createDataFrame(
            [tuple(op[f.name] for f in golden_envelope_df(spark).schema.fields)
             for op in multi],
            golden_envelope_df(spark).schema,
        )
    )

    def run(pack: bool, sub: str):
        captured = []
        sink = ProtobufKafkaSink(
            meta_dir=str(tmp_path / sub), registry=_registry(),
            produce=lambda seq, v: captured.append((seq, v)),
            producer_id=1, pack_rows=pack,
        )
        sink(batch, batch_id=0)
        return captured

    packed_msgs = run(True, "m1")
    plain_msgs = run(False, "m2")

    # wire shape: the packed stream carries ONE insert op at pos 900
    # with 3 Row images; the plain stream carries three 1-row ops
    def ops_at_900(msgs):
        out = []
        for _, data in msgs:
            m = wp.decode_message(data)
            for op in wp.decode_payload_ops(m["payload"], m["compression"]):
                if op["log_pos"] == 900:
                    out.append(op)
        return out

    p900 = ops_at_900(packed_msgs)
    assert len(p900) == 1 and len(p900[0]["rows"]) == 3
    u900 = ops_at_900(plain_msgs)
    assert len(u900) == 3 and all(len(o["rows"]) == 1 for o in u900)

    # consumer parity: both decode to the same envelope rows
    def consume(msgs, name):
        df = spark.createDataFrame([(bytearray(v),) for _, v in msgs], "value binary")
        return {
            (r["log_pos"], r["op_type"], str(r["after"]))
            for r in decode_protobuf_messages(df).collect()
        }

    assert consume(packed_msgs, "p") == consume(plain_msgs, "u")


def test_pack_rows_multirow_update_keeps_both_images(spark, tmp_path):
    """Packed multi-row UPDATE: each Row carries its own before AND
    after image, in row_index order."""
    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink

    common = dict(server_id=1, log_name="binlog.000001", timestamp=1000,
                  db="test", table="canal_test", schema_version=1)
    ops = [
        empty_op(op_type="update", log_pos=500, row_index=i,
                 before={"id": str(i + 1), "name": "old", "content": ""},
                 before_null={"id": False, "name": False, "content": False},
                 after={"id": str(i + 1), "name": f"new{i}", "content": ""},
                 after_null={"id": False, "name": False, "content": False},
                 **common)
        for i in range(2)
    ]
    from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA

    batch = spark.createDataFrame(
        [tuple(op[f.name] for f in ENVELOPE_SCHEMA.fields) for op in ops],
        ENVELOPE_SCHEMA,
    )
    captured = []
    ProtobufKafkaSink(
        meta_dir=str(tmp_path / "m"), registry=_registry(),
        produce=lambda seq, v: captured.append((seq, v)), pack_rows=True,
    )(batch, batch_id=0)
    dec = wp.OperationDecoder()
    ops_out = []
    for i, (_, d) in enumerate(captured):
        r = dec.feed(d, offset=i)
        if r:
            ops_out.extend(r.ops)
    assert len(ops_out) == 1 and len(ops_out[0]["rows"]) == 2
    for i, row in enumerate(ops_out[0]["rows"]):
        assert [c["value"] for c in row["before"]][1] == "old"
        assert [c["value"] for c in row["after"]][1] == f"new{i}"


def test_streaming_decoder_tolerates_out_of_order_arrow_chunks():
    """applyInPandasWithState may deliver a group's rows split across
    Arrow chunks in arbitrary order — the decode fn must concat ALL
    chunks and sort once, or it stalls at the first inter-chunk gap."""
    import pandas as pd

    from dolphinbeat_spark.streaming.state import _proto_decode_fn

    msgs = wp.build_messages(_chunks(), base_seq=0, producer_id=1, ops_per_payload=3)
    assert len(msgs) >= 3

    class FakeState:
        exists = False

        def update(self, v):
            self.exists = True
            self.value = v

        @property
        def get(self):
            return self.value

    rows = [
        {"producer_id": 1, "arrival": i, "value": bytearray(d)}
        for i, (_, d) in enumerate(msgs)
    ]
    # later messages arrive in the FIRST chunk, earlier in the second
    half = len(rows) // 2
    chunks = [pd.DataFrame(rows[half:]), pd.DataFrame(rows[:half])]
    out = list(_proto_decode_fn((1,), iter(chunks), FakeState()))
    assert out, "decoder stalled on out-of-order chunks"
    got = pd.concat(out)
    assert list(got["op_type"]) == [r["op_type"] for r in golden_sequences()]


def test_corrupt_message_dead_letters_and_stream_continues(spark):
    """One Kafka message with a corrupted payload must not crash-loop
    or stall the consumer: it dead-letters as op_type='corrupt' and
    every other group still decodes (the seq chain advanced when the
    envelope parsed)."""
    from dolphinbeat_spark.sinks.ordered import decode_protobuf_messages

    msgs = wp.build_messages(_chunks(), base_seq=0, producer_id=1, ops_per_payload=4)
    assert len(msgs) >= 3
    # corrupt the MIDDLE message's payload bytes but keep its envelope:
    # re-encode with garbage payload under the same seq/group
    seq1, _ = msgs[1]
    bad = wp.encode_message(
        seq=seq1, producer_id=1, group_id=seq1, payload=b"\xff\xff\xff\xff"
    )
    values = [msgs[0][1], bad, msgs[2][1]] + [d for _, d in msgs[3:]]
    df = spark.createDataFrame(
        [(i + 1, bytearray(v)) for i, v in enumerate(values)],
        "seq long, value binary",
    ).withColumn("producer_id", F.lit(1).cast("long"))
    got = decode_protobuf_messages(df.select("producer_id", "seq", "value"))
    rows = got.collect()
    corrupt = [r for r in rows if r["op_type"] == "corrupt"]
    assert len(corrupt) == 1
    assert "ValueError" in corrupt[0]["statement"] or "truncated" in corrupt[0]["statement"]
    ok_ops = [r["op_type"] for r in rows if r["op_type"] != "corrupt"]
    # groups before AND after the corrupt message decoded
    n_golden = len(golden_sequences())
    assert len(ok_ops) == n_golden - 4  # the corrupted group's 4 ops lost
    assert ok_ops[:4] == [o["op_type"] for o in golden_sequences()[:4]]


def test_unreadable_envelope_dead_letters_too(spark):
    """Total garbage bytes (the Message ENVELOPE itself unreadable, the
    common real truncation) must also dead-letter instead of crashing
    the head-extraction task."""
    from dolphinbeat_spark.sinks.ordered import decode_protobuf_messages

    msgs = wp.build_messages(_chunks(), base_seq=0, producer_id=1)
    values = [msgs[0][1], b"\xff\xfe\x80\x80\x80"]
    df = spark.createDataFrame([(bytearray(v),) for v in values], "value binary")
    rows = decode_protobuf_messages(df).collect()
    corrupt = [r for r in rows if r["op_type"] == "corrupt"]
    assert len(corrupt) == 1 and "envelope" in corrupt[0]["statement"]
    assert len([r for r in rows if r["op_type"] != "corrupt"]) == len(golden_sequences())


# ---------------------------------------------------------------------------
# property-based: the wire survives arbitrary content and framing
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_texts = st.text(min_size=0, max_size=40)


@settings(max_examples=150, deadline=None)
@given(
    values=st.lists(
        st.tuples(st.one_of(st.none(), _texts), st.booleans()), min_size=0, max_size=6
    ),
    db=_texts,
    statement=_texts,
)
def test_prop_operation_roundtrip(values, db, statement):
    """Arbitrary unicode values/nulls survive encode→decode exactly
    (value "" with is_null False and value None both land per the
    reference's NULL convention)."""
    from dolphinbeat_spark.schema.registry import ColumnDef, TableDef

    td = TableDef(
        database="d", name="t",
        columns=[ColumnDef(f"c{i}", "varchar(40)") for i in range(len(values))],
    )
    row = {
        "op_type": "insert",
        "server_id": 3,
        "timestamp": 1234,
        "log_pos": 99,
        "after": {f"c{i}": (v if not isn else "") for i, (v, isn) in enumerate(values)},
        "after_null": {f"c{i}": isn for i, (_, isn) in enumerate(values)},
    }
    op = wp.decode_operation(wp.encode_operation(row, td))
    got = op.get("rows", [{}])[0].get("after", []) if values else []
    assert len(got) == len(values)
    for (v, isn), col in zip(values, got):
        assert col["is_null"] == isn
        assert col["value"] == ("" if isn else (v or ""))
    # query ops carry arbitrary statements intact
    qop = wp.decode_operation(
        wp.encode_operation(
            {"op_type": "query", "db": db, "statement": statement, "log_pos": 1}, None
        )
    )
    assert (qop["statement"] or "") == statement
    assert (qop["database"] or "") == db


@settings(max_examples=60, deadline=None)
@given(
    payload=st.binary(min_size=0, max_size=4000),
    max_size=st.integers(min_value=1, max_value=512),
    compression=st.sampled_from(
        [wp.COMPRESSION_NONE, wp.COMPRESSION_ZLIB, wp.COMPRESSION_GZIP]
    ),
)
def test_prop_fragmentation_reassembly(payload, max_size, compression):
    """Any payload bytes, any fragment size, any compression: the
    framing layer reassembles the exact chunk stream (op decode is
    covered separately — here the chunk content is arbitrary bytes)."""
    chunk = wp.f_bytes(1, payload, emit_empty=True)  # one opaque 'op'
    msgs = wp.build_messages(
        [chunk], base_seq=0, producer_id=1,
        max_payload_size=max_size, compression=compression,
    )
    heads = [wp.decode_message(d) for _, d in msgs]
    assert [h["seq"] for h in heads] == list(range(1, len(msgs) + 1))
    assert all(h["more_fragment"] for h in heads[:-1])
    assert not heads[-1]["more_fragment"]
    assert len({h["group_id"] for h in heads}) == 1
    raw = b"".join(h["payload"] for h in heads)
    if compression == wp.COMPRESSION_ZLIB:
        raw = zlib.decompress(raw)
    elif compression == wp.COMPRESSION_GZIP:
        raw = zlib.decompress(raw, wbits=16 + zlib.MAX_WBITS)
    assert bytes(wp.parse_fields(raw)[1][0]) == payload


def test_gzip_in_band_compression():
    msgs = wp.build_messages(
        _chunks(), base_seq=0, producer_id=1, compression=wp.COMPRESSION_GZIP
    )
    m = wp.decode_message(msgs[0][1])
    assert m["compression"] == wp.COMPRESSION_GZIP
    assert m["payload"][:2] == b"\x1f\x8b"  # real RFC-1952 gzip magic
    ops = wp.decode_payload_ops(m["payload"], m["compression"])
    assert [o["op_type"] for o in ops] == [r["op_type"] for r in golden_sequences()]


def test_corrupt_and_truncated_messages_fail_loud():
    """Corruption surfaces as a clear ValueError, never a silent
    misparse or a bare IndexError."""
    msgs = wp.build_messages(_chunks(), base_seq=0, producer_id=1)
    _, data = msgs[0]
    with pytest.raises(ValueError, match="truncated"):
        wp.parse_fields(data[: len(data) // 2])
    with pytest.raises(ValueError, match="truncated varint"):
        wp.read_uvarint(b"\x80\x80", 0)  # continuation bit never ends
    # unknown wiretype (start-group, deprecated) rejects
    with pytest.raises(ValueError, match="wiretype"):
        wp.parse_fields(bytes([1 << 3 | 3, 0]))


def test_non_utf8_value_bytes_survive_decode():
    """A foreign Go producer can stringify raw BLOB bytes into a proto
    string without UTF-8 validation — the consumer must not crash."""
    raw_col = wp._tag(2, 2) + wp._uvarint(3) + b"\xff\xfe\x80"  # Column.value
    row = wp.f_bytes(2, raw_col, emit_empty=True)  # Row.after
    op = wp.f_bytes(1, wp.f_varint(2, 4), emit_empty=True) + wp.f_bytes(
        14, row, emit_empty=True
    )
    decoded = wp.decode_operation(op)
    v = decoded["rows"][0]["after"][0]["value"]
    assert isinstance(v, str) and len(v) == 3  # replacement chars, no crash


# ---------------------------------------------------------------------------
# ProtobufKafkaSink output contract: parallel encode + driver-side order
# ---------------------------------------------------------------------------


def _fixture_envelope_rows():
    """The committed replay fixture decoded twice — under its own name
    and as a later file of the series — plus ops with a NULL log_name
    and a NULL log_pos, as envelope tuples in a scrambled order: the
    second copy first, the first copy reversed (its TRANSACTION_PAYLOAD
    ops tie on the whole sort key, so their order pins how ties
    resolve). Returns (rows, registry)."""
    from pathlib import Path

    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sources.binlog_file import parse_binlog_events
    from dolphinbeat_spark.sources.binlog_source import (
        DecodeContext,
        _row_tuple,
        adapt_replication_event,
        decode_event,
    )

    fixture = Path(__file__).parent / "fixtures" / "replay.binlog"
    ctx = DecodeContext(registry=SchemaRegistry(), log_name="replay.000001",
                        server_id=33061)
    first = []
    for raw in parse_binlog_events(fixture.read_bytes()):
        ev = adapt_replication_event(raw)
        if ev is not None:
            first.extend(decode_event(ev, ctx))
    second = [dict(op, log_name="replay.000002") for op in first]
    odd = [
        empty_op(op_type="query", log_name=None, log_pos=9, server_id=1,
                 statement="FLUSH LOGS"),
        empty_op(op_type="query", log_name="replay.000001", log_pos=None,
                 server_id=1, statement="SET @x = 1"),
    ]
    ops = second + odd + first[::-1]
    return [_row_tuple(op) for op in ops], ctx.registry


def _sink_digest(spark, tmp_path, **sink_kw) -> str:
    """sha256 over (seq, message) of one ProtobufKafkaSink call on the
    scrambled fixture envelope in three partitions, at base seq 1000."""
    import hashlib
    import json

    from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA
    from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink

    rows, registry = _fixture_envelope_rows()
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), ENVELOPE_SCHEMA)
    assert df.rdd.getNumPartitions() == 3
    meta = tmp_path / "meta"
    meta.mkdir()
    (meta / "41.json").write_text(json.dumps({"base_seq": 1000, "n_rows": 0}))
    captured = []
    sink = ProtobufKafkaSink(
        meta_dir=str(meta), registry=registry,
        produce=lambda seq, value: captured.append((seq, value)),
        producer_id=3, **sink_kw,
    )
    sink(df, batch_id=42)
    assert captured[0][0] == 1001
    h = hashlib.sha256()
    for seq, value in captured:
        h.update(seq.to_bytes(8, "big") + value)
    return h.hexdigest()


@pytest.mark.parametrize(
    "sink_kw,digest",
    [
        ({"ops_per_payload": 5, "max_payload_size": 200}, "41a45d3d9870e9939a68db4d3430f1d34d25d37d44b0e57141a5cec46e0dd32b"),
        ({"compression": "zlib"}, "aaff4f30c5ab98d150349abf51bdd8ab67a2760e47702ae90c3aed9e51ecbf84"),
    ],
)
def test_protobuf_sink_messages_match_golden_digest(spark, tmp_path, sink_kw, digest):
    """The messages for a fixed multi-partition input and base seq are
    byte-identical to the ones the single-partition sort-then-encode
    sink produced: same total order (NULLs first, ties in arrival
    order), same Operation bytes, same framing."""
    assert _sink_digest(spark, tmp_path, **sink_kw) == digest


def test_operation_encoder_keys_table_defs_by_schema_version(spark, tmp_path):
    """TableDef bytes are cached per (db, table, schema_version): after
    an ALTER, the next batch's row ops carry the new column list —
    both with an explicit version and with none (resolved at the
    registry's current version)."""
    from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA, empty_op
    from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink

    reg = _registry()
    v1 = reg.version
    enc = wp.OperationEncoder(reg)
    row1 = dict(op_type="insert", db="test", table="canal_test", log_pos=10,
                after={"id": "1", "name": "a", "content": "x"},
                after_null={"id": False, "name": False, "content": False})
    row2 = dict(row1, after=dict(row1["after"], age="7"),
                after_null=dict(row1["after_null"], age=False))

    def columns(op_bytes):
        return [c["name"] for c in wp.decode_operation(op_bytes)["table"]["columns"]]

    assert columns(enc(dict(row1, schema_version=v1))) == ["id", "name", "content"]
    assert columns(enc(dict(row1, schema_version=None))) == ["id", "name", "content"]
    v2 = reg.apply_ddl("ALTER TABLE test.canal_test ADD COLUMN age INT")
    # the same encoder: a new version is a new key, never a stale hit
    assert columns(enc(dict(row2, schema_version=v2))) == ["id", "name", "content", "age"]
    assert columns(enc(dict(row2, schema_version=None))) == ["id", "name", "content", "age"]
    assert columns(enc(dict(row1, schema_version=v1))) == ["id", "name", "content"]

    # and through the sink: batch 0 before the ALTER, batch 1 after it
    reg = _registry()
    captured = []
    sink = ProtobufKafkaSink(meta_dir=str(tmp_path / "meta"), registry=reg,
                             produce=lambda seq, v: captured.append(v))

    def batch(row, version):
        op = empty_op(**dict(row, schema_version=version))
        return spark.createDataFrame(
            [tuple(op[f.name] for f in ENVELOPE_SCHEMA.fields)], ENVELOPE_SCHEMA)

    sink(batch(row1, reg.version), batch_id=0)
    v2 = reg.apply_ddl("ALTER TABLE test.canal_test ADD COLUMN age INT")
    sink(batch(row2, v2), batch_id=1)
    got = []
    for v in captured:
        m = wp.decode_message(v)
        for op in wp.decode_payload_ops(m["payload"], m["compression"]):
            got.append([c["name"] for c in op["table"]["columns"]])
            got.append([c["value"] for c in op["rows"][0]["after"]])
    assert got == [
        ["id", "name", "content"], ["1", "a", "x"],
        ["id", "name", "content", "age"], ["1", "a", "x", "7"],
    ]


def _drifted_insert(reg: SchemaRegistry) -> dict:
    """An insert decoded under ``reg.version + 1`` (``score`` added)
    while ``reg`` is still at its version."""
    reg.apply_ddl("CREATE TABLE d.t (id INT PRIMARY KEY, name VARCHAR(20))")
    return dict(op_type="insert", db="d", table="t", log_name="binlog.000001",
                log_pos=10, row_index=0, schema_version=reg.version + 1,
                after={"id": "1", "name": "a", "score": "9"},
                after_null={"id": False, "name": False, "score": False})


def test_encoding_a_column_the_table_def_lacks_raises():
    """A row image naming a column its TableDef lacks raises
    SchemaDriftError instead of dropping the column from the wire."""
    from dolphinbeat_spark.schema.registry import SchemaDriftError

    reg = SchemaRegistry()
    row = _drifted_insert(reg)
    with pytest.raises(SchemaDriftError, match=r"\['score'\]"):
        wp.OperationEncoder(reg)(row)
    packed = dict(row, __rows=[{"after": row["after"], "after_null": row["after_null"]}])
    with pytest.raises(SchemaDriftError, match="d.t"):
        wp.OperationEncoder(reg)(packed)


def test_protobuf_sink_fails_a_drifted_batch_and_records_no_meta(spark, tmp_path):
    from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA, empty_op
    from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink

    reg = SchemaRegistry()
    op = empty_op(**_drifted_insert(reg))
    df = spark.createDataFrame([tuple(op[f.name] for f in ENVELOPE_SCHEMA.fields)],
                               ENVELOPE_SCHEMA)
    captured = []
    sink = ProtobufKafkaSink(meta_dir=str(tmp_path / "_seq_meta"), registry=reg,
                             produce=lambda seq, v: captured.append(v))
    with pytest.raises(Exception, match="SchemaDriftError"):
        sink(df, batch_id=0)
    assert captured == []
    assert not list((tmp_path / "_seq_meta").glob("*.json"))
