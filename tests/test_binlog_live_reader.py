"""Live binlog reader protocol tests — injected event iterator.

Drives LiveBinlogStreamReader's full SimpleDataSourceStreamReader
protocol (initialOffset / read / readBetweenOffsets / commit) with
fake event objects shaped like the binlog parser's event classes
(dispatch is by class NAME, so no live socket is needed) — the
fake-socket twin of the reference's live suite
(canal/sync.go:69-225 semantics).
"""

from __future__ import annotations

from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA
from dolphinbeat_spark.sources.binlog_source import (
    BinlogOffset,
    LiveBinlogStreamReader,
    adapt_replication_event,
)


class _Packet:
    def __init__(self, log_pos):
        self.log_pos = log_pos


class RotateEvent:
    def __init__(self, next_binlog, position, log_pos=0):
        self.next_binlog = next_binlog
        self.position = position
        self.timestamp = 0
        self.packet = _Packet(log_pos)


class GtidEvent:
    def __init__(self, gtid, log_pos):
        self.gtid = gtid
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


class QueryEvent:
    def __init__(self, query, schema, log_pos):
        self.query = query  # bytes on the wire
        self.schema = schema
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


class XidEvent:
    def __init__(self, xid, log_pos):
        self.xid = xid
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


class WriteRowsEvent:
    def __init__(self, schema, table, values_rows, log_pos):
        self.schema = schema
        self.table = table
        self.rows = [{"values": v} for v in values_rows]
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


class UpdateRowsEvent:
    def __init__(self, schema, table, pairs, log_pos):
        self.schema = schema
        self.table = table
        self.rows = [{"before_values": b, "after_values": a} for b, a in pairs]
        self.timestamp = 1001
        self.packet = _Packet(log_pos)


class FormatDescriptionEvent:  # must be ignored
    def __init__(self):
        self.packet = _Packet(4)


def _event_script():
    return [
        RotateEvent("binlog.000002", 4),
        FormatDescriptionEvent(),
        QueryEvent(b"CREATE TABLE d.t (id INT PRIMARY KEY, name VARCHAR(10))", b"d", 150),
        GtidEvent("uuid-1:7", 180),
        QueryEvent(b"BEGIN", b"d", 200),
        WriteRowsEvent("d", "t", [{"id": 1, "name": "a"}, {"id": 2, "name": None}], 260),
        XidEvent(77, 300),
        GtidEvent("uuid-1:8", 320),
        QueryEvent(b"BEGIN", b"d", 340),
        UpdateRowsEvent("d", "t", [({"id": 1, "name": "a"}, {"id": 1, "name": "a2"})], 380),
        XidEvent(78, 400),
    ]


class _FakeSocket:
    """Fake-socket twin of BinLogStreamReader: events become visible as
    they 'arrive'; an exhausted iteration ends (blocking=False) but a
    LATER iteration of the same stream object sees newly arrived
    events, like the real fetchone polling loop. ``factory(offset)``
    seeks a new stream view at the offset (immutable log replay)."""

    def __init__(self, events):
        self.events = list(events)
        self.visible = 0
        self.closed = False

    def arrive(self, n):
        self.visible = min(self.visible + n, len(self.events))

    class _Stream:
        def __init__(self, parent, cursor):
            self.parent, self.cursor = parent, cursor

        def __iter__(self):
            while self.cursor < self.parent.visible:
                ev = self.parent.events[self.cursor]
                self.cursor += 1
                yield ev

        def close(self):
            self.parent.closed = True

    def factory(self, offset: BinlogOffset):
        if offset.pos <= 4:
            return self._Stream(self, 0)
        cursor = sum(
            1 for e in self.events
            if getattr(getattr(e, "packet", None), "log_pos", 0) <= offset.pos
            and not isinstance(e, RotateEvent)
        ) + 1  # +1 skips the rotate (packet pos 0) when resuming mid-file
        return self._Stream(self, cursor)


def _cols(row):
    return dict(zip([f.name for f in ENVELOPE_SCHEMA.fields], row))


def test_adapter_maps_event_classes():
    ev = adapt_replication_event(WriteRowsEvent("d", "t", [{"id": 1}], 99))
    assert ev.kind == "insert" and ev.rows == [{"id": 1}] and ev.log_pos == 99
    ev = adapt_replication_event(QueryEvent(b"BEGIN", b"d", 10))
    assert ev.kind == "query" and ev.query == "BEGIN" and ev.schema == "d"
    assert adapt_replication_event(FormatDescriptionEvent()) is None
    up = adapt_replication_event(
        UpdateRowsEvent("d", "t", [({"id": 1}, {"id": 2})], 42)
    )
    assert up.kind == "update" and up.rows == [({"id": 1}, {"id": 2})]


def test_live_reader_end_to_end_protocol():
    sock = _FakeSocket(_event_script())
    reader = LiveBinlogStreamReader({"max_ops_per_batch": "100"}, sock.factory)

    start = reader.initialOffset()
    assert BinlogOffset.from_json(start).pos == 4

    # nothing arrived yet: empty batch, offset unchanged
    rows, end0 = reader.read(start)
    assert list(rows) == [] and BinlogOffset.from_json(end0).pos == 4

    # first 7 events arrive (through the first commit)
    sock.arrive(7)
    rows, end1 = reader.read(end0)
    rows = [_cols(r) for r in rows]
    ops = [r["op_type"] for r in rows]
    assert ops == ["rotate", "ddl", "gtid", "begin", "insert", "insert", "commit"]
    # rotate switched the file; DDL replayed into the registry
    assert all(r["log_name"] == "binlog.000002" for r in rows[1:])
    assert reader.ctx.registry.get("d", "t").column_names() == ["id", "name"]
    # D12: NULL stringifies to "" + null-flag on the insert image
    ins2 = rows[5]
    assert ins2["after"]["name"] == "" and ins2["after_null"]["name"] is True
    # schema_version stamped on row ops
    assert ins2["schema_version"] == reader.ctx.registry.version
    e1 = BinlogOffset.from_json(end1)
    assert (e1.file, e1.pos) == ("binlog.000002", 300)
    assert e1.gtid_set == "uuid-1:7"  # commit folded the gtid in

    # remaining events arrive; the SAME stream object continues
    sock.arrive(10)
    rows, end2 = reader.read(end1)
    rows = [_cols(r) for r in rows]
    assert [r["op_type"] for r in rows] == ["gtid", "begin", "update", "commit"]
    upd = rows[2]
    assert upd["before"]["name"] == "a" and upd["after"]["name"] == "a2"
    e2 = BinlogOffset.from_json(end2)
    # contiguous txids compact to canonical interval form (auto_position-ready)
    assert e2.pos == 400 and e2.gtid_set == "uuid-1:7-8"

    # replay a committed-but-lost range: fresh seek, same rows
    replay = [_cols(r) for r in reader.readBetweenOffsets(end1, end2)]
    assert [r["op_type"] for r in replay] == ["gtid", "begin", "update", "commit"]
    assert replay[2]["after"]["name"] == "a2"

    reader.commit(end2)
    reader.stop()
    assert sock.closed or sock.cursor  # stop() closed the live iterator


def test_replay_does_not_overshoot_grown_binlog():
    """readBetweenOffsets must stop AT ``end`` even though the binlog
    has grown past it since the original batch was cut — rows beyond
    ``end`` belong to the next live batch; replaying them too would
    hand duplicates fresh seq stamps downstream."""
    sock = _FakeSocket(_event_script())
    reader = LiveBinlogStreamReader({"max_ops_per_batch": "100"}, sock.factory)
    start = reader.initialOffset()
    sock.arrive(7)  # through the first commit (pos 300)
    rows, end1 = reader.read(start)
    assert [_cols(r)["op_type"] for r in rows][-1] == "commit"
    sock.arrive(10)  # binlog grows: second transaction now visible
    # replay the FIRST batch range only — must not leak the second trx
    replay = [_cols(r) for r in reader.readBetweenOffsets(start, end1)]
    assert [r["op_type"] for r in replay] == [
        "rotate", "ddl", "gtid", "begin", "insert", "insert", "commit"
    ]
    assert max(r["log_pos"] for r in replay) <= BinlogOffset.from_json(end1).pos


def test_drain_mid_transaction_rolls_back_to_safe_cut():
    """A non-blocking iterator that runs dry between BEGIN and COMMIT
    must NOT checkpoint a mid-transaction offset: the batch rolls back
    to the last safe cut and the tail re-emits next read — a restart at
    the returned offset re-decodes the whole transaction, keeping its
    commit gtid in the gtid_set."""
    sock = _FakeSocket(_event_script())
    reader = LiveBinlogStreamReader({"max_ops_per_batch": "100"}, sock.factory)
    start = reader.initialOffset()
    sock.arrive(6)  # drains after the inserts, BEFORE XidEvent(77, 300)
    rows, end1 = reader.read(start)
    ops = [_cols(r)["op_type"] for r in rows]
    assert ops == ["rotate", "ddl"]  # gtid/begin/inserts held back
    e1 = BinlogOffset.from_json(end1)
    assert e1.pos == 150  # the DDL safe cut, not the insert position
    # a fresh reader restarted at that offset sees the FULL transaction
    fresh = LiveBinlogStreamReader({"max_ops_per_batch": "100"}, sock.factory)
    sock.arrive(100)
    rows_f, _ = fresh.read(end1)
    assert [_cols(r)["op_type"] for r in rows_f][:5] == [
        "gtid", "begin", "insert", "insert", "commit"
    ]
    # and the SAME live reader re-emits the held-back tail seamlessly
    rows2, end2 = reader.read(end1)
    ops2 = [_cols(r)["op_type"] for r in rows2]
    assert ops2[:5] == ["gtid", "begin", "insert", "insert", "commit"]
    assert BinlogOffset.from_json(end2).gtid_set.startswith("uuid-1:7")


def _two_table_script():
    """Interleaved transactions over two tables (d.t, d.s — chosen
    to land in different crc32 shards at n=2) — the shard
    parity fixture."""
    return [
        RotateEvent("binlog.000002", 4),
        QueryEvent(b"CREATE TABLE d.t (id INT PRIMARY KEY, name VARCHAR(10))", b"d", 100),
        QueryEvent(b"CREATE TABLE d.s (id INT PRIMARY KEY, v VARCHAR(10))", b"d", 140),
        GtidEvent("uuid-1:1", 160),
        QueryEvent(b"BEGIN", b"d", 180),
        WriteRowsEvent("d", "t", [{"id": 1, "name": "a"}], 220),
        WriteRowsEvent("d", "s", [{"id": 10, "v": "x"}, {"id": 11, "v": "y"}], 260),
        XidEvent(1, 300),
        GtidEvent("uuid-1:2", 320),
        QueryEvent(b"BEGIN", b"d", 340),
        UpdateRowsEvent("d", "t", [({"id": 1, "name": "a"}, {"id": 1, "name": "b"})], 380),
        WriteRowsEvent("d", "t", [{"id": 2, "name": "c"}], 420),
        WriteRowsEvent("d", "s", [{"id": 12, "v": "z"}], 460),
        XidEvent(2, 500),
    ]


def test_sharded_readers_parity_with_single_reader():
    """Shard-by-table option: the union of the shards' row ops equals
    the single reader's row ops exactly; per-table order is preserved
    inside each shard; control ops and offset/gtid progress are
    complete in EVERY shard (each shard can resume alone)."""
    from dolphinbeat_spark.sources.binlog_source import (
        shard_for_table,
        sharded_binlog_readers,
    )

    events = _two_table_script()
    row_ops = {"insert", "update", "delete"}

    def read_all(reader, sock):
        sock.arrive(100)
        rows, end = reader.read(reader.initialOffset())
        return [_cols(r) for r in rows], end

    single_sock = _FakeSocket(events)
    single_rows, single_end = read_all(
        LiveBinlogStreamReader({"max_ops_per_batch": "100"}, single_sock.factory),
        single_sock,
    )
    # shard assignment is deterministic and splits the two tables —
    # the parity below is only meaningful when both shards carry rows
    n = 2
    assert shard_for_table("d", "t", n) != shard_for_table("d", "s", n)
    socks = [_FakeSocket(events) for _ in range(n)]
    readers = sharded_binlog_readers({"max_ops_per_batch": "100"}, n)
    shard_rows, shard_ends = [], []
    for i, r in enumerate(readers):
        r._factory = socks[i].factory  # injectable per-shard stream
        rows, end = read_all(r, socks[i])
        shard_rows.append(rows)
        shard_ends.append(end)

    def key(r):
        return (r["log_name"], r["log_pos"], r["row_index"], str(r.get("after")))

    # 1. row-op parity: union of shards == single reader, exactly
    single_keyed = sorted(key(r) for r in single_rows if r["op_type"] in row_ops)
    union_keyed = sorted(
        key(r) for rows in shard_rows for r in rows if r["op_type"] in row_ops
    )
    assert union_keyed == single_keyed
    # ... and no row op appears in more than one shard
    assert len(union_keyed) == len(set(union_keyed))

    # 2. per-table order inside each shard matches the single reader
    for rows in shard_rows:
        for tbl in ("t", "s"):
            mine = [key(r) for r in rows
                    if r["op_type"] in row_ops and r["table"] == tbl]
            ref = [key(r) for r in single_rows
                   if r["op_type"] in row_ops and r["table"] == tbl
                   and key(r) in set(mine)]
            assert mine == ref

    # 3. every shard sees ALL control ops and reaches the same offset
    ctrl = [r["op_type"] for r in single_rows if r["op_type"] not in row_ops]
    for rows, end in zip(shard_rows, shard_ends):
        assert [r["op_type"] for r in rows if r["op_type"] not in row_ops] == ctrl
        assert BinlogOffset.from_json(end).gtid_set == \
            BinlogOffset.from_json(single_end).gtid_set
        assert BinlogOffset.from_json(end).pos == \
            BinlogOffset.from_json(single_end).pos

    # 4. each shard's registry replayed every DDL (any shard can resume)
    for r in readers:
        assert r.ctx.registry.get("d", "t") is not None
        assert r.ctx.registry.get("d", "s") is not None


def test_merge_gtid_interval_compaction():
    from dolphinbeat_spark.sources.binlog_source import _merge_gtid

    assert _merge_gtid("", "u1:5") == "u1:5"
    assert _merge_gtid("u1:5", "u1:6") == "u1:5-6"
    assert _merge_gtid("u1:1-3", "u1:4") == "u1:1-4"
    assert _merge_gtid("u1:1-3", "u1:7") == "u1:1-3:7"
    assert _merge_gtid("u1:1-3:7", "u1:5") == "u1:1-3:5:7"
    assert _merge_gtid("u1:1-3:5:7", "u1:4") == "u1:1-5:7"
    assert _merge_gtid("u1:1-3,u2:9", "u2:10") == "u1:1-3,u2:9-10"
    # duplicate commit (replay) is absorbed, not double-counted
    assert _merge_gtid("u1:1-4", "u1:3") == "u1:1-4"
    # MariaDB domain-server-seq: first-class — one current position per
    # domain (canal/gtid.go:21-25), newest seq wins
    assert _merge_gtid("0-1-100", "0-1-101") == "0-1-101"
    assert _merge_gtid("0-1-100", "0-1-100") == "0-1-100"
    # replayed older seq is absorbed, position never regresses
    assert _merge_gtid("0-1-100", "0-1-99") == "0-1-100"
    # independent domains coexist; a failover changes the server part
    assert _merge_gtid("0-1-100,1-1-7", "1-2-8") == "0-1-100,1-2-8"
    # mixed-dialect sets: each side compacts by its own rules
    assert _merge_gtid("0-1-100,u1:5", "u1:6") == "u1:5-6,0-1-100"
    assert _merge_gtid("u1:1-3,0-1-100,u1:4", "u1:5") == "u1:1-5,0-1-100"
    assert _merge_gtid("u1:1-3,0-1-100", "0-1-101") == "u1:1-3,0-1-101"
    # a truly opaque part (neither dialect) still carries verbatim
    # without abandoning compaction for the rest
    assert _merge_gtid("weird!part,u1:5", "u1:6") == "u1:5-6,weird!part"


def test_gtid_set_covers_both_dialects():
    from dolphinbeat_spark.sources.binlog_source import gtid_set_covers

    # MySQL interval containment
    assert gtid_set_covers("u1:1-10", "u1:3-7")
    assert not gtid_set_covers("u1:3-7", "u1:1-10")
    assert gtid_set_covers("u1:1-10,u2:5", "u1:2:9")
    assert not gtid_set_covers("u1:1-10", "u2:1")
    # MariaDB per-domain seq ordering (what opaque carry-through
    # could never answer)
    assert gtid_set_covers("0-1-100", "0-1-99")
    assert gtid_set_covers("0-1-100", "0-2-100")  # server differs, seq equal
    assert not gtid_set_covers("0-1-99", "0-1-100")
    assert gtid_set_covers("0-1-100,1-1-7", "1-1-6")
    assert not gtid_set_covers("0-1-100", "1-1-1")  # unknown domain
    # mixed sets
    assert gtid_set_covers("u1:1-10,0-1-100", "u1:5,0-1-50")
    assert not gtid_set_covers("u1:1-10,0-1-49", "u1:5,0-1-50")
    # empty set covered by anything; nothing (but empty) covered by empty
    assert gtid_set_covers("u1:1", "")
    assert not gtid_set_covers("", "u1:1")


def test_prop_mariadb_merge_monotone_and_bounded():
    """Property (mirrors the MySQL-form compaction guarantees): folding
    any stream of MariaDB GTIDs keeps the set one-entry-per-domain,
    covering every folded gtid, with per-domain seq = the max seen."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dolphinbeat_spark.sources.binlog_source import (
        _merge_gtid,
        gtid_set_covers,
    )

    gtids = st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 4), st.integers(1, 60)),
        min_size=1, max_size=40,
    )

    @settings(max_examples=120, deadline=None)
    @given(stream=gtids)
    def run(stream):
        gset = ""
        best: dict[int, int] = {}
        for d, s, n in stream:
            gset = _merge_gtid(gset, f"{d}-{s}-{n}")
            best[d] = max(best.get(d, 0), n)
            assert gtid_set_covers(gset, f"{d}-{s}-{min(n, best[d])}")
        parts = gset.split(",")
        assert len(parts) == len(best)  # one entry per domain, bounded
        got = {int(p.split("-")[0]): int(p.split("-")[2]) for p in parts}
        assert got == best  # newest seq per domain, never regresses

    run()


def test_replay_threads_rollback_leftover_through():
    """If the replay iterator transiently runs dry mid-transaction (the
    non-blocking wire can pause between packets), the rolled-back tail
    ops were already consumed from the iterator — readBetweenOffsets
    must re-emit them on the next pull instead of dropping them, or the
    replay returns fewer rows than the committed range."""

    class _Trickle:
        """Yields at most ``chunk`` events per iteration pass, then runs
        dry until the next pass — a transiently-stalling stream."""

        def __init__(self, events, chunk):
            self.events, self.i, self.chunk = list(events), 0, chunk

        def __iter__(self):
            stop = min(self.i + self.chunk, len(self.events))
            while self.i < stop:
                ev = self.events[self.i]
                self.i += 1
                yield ev

    events = _event_script()[:7]  # rotate..first commit (pos 300)
    # chunk=4 drains after BEGIN: mid-transaction rollback on pass 1
    reader = LiveBinlogStreamReader(
        {"max_ops_per_batch": "100"}, lambda off: _Trickle(events, 4)
    )
    start = BinlogOffset(pos=4).to_json()
    end = BinlogOffset(file="binlog.000002", pos=300).to_json()
    replay = [_cols(r) for r in reader.readBetweenOffsets(start, end)]
    assert [r["op_type"] for r in replay] == [
        "rotate", "ddl", "gtid", "begin", "insert", "insert", "commit"
    ]


def test_master_position_probes():
    """S5: probe current position / retained logs with an injected
    query runner (fake server)."""
    from dolphinbeat_spark.sources.binlog_source import (
        offset_is_resumable,
        probe_binary_logs,
        probe_master_offset,
    )

    answers = {
        "SHOW BINARY LOG STATUS": Exception("unknown statement"),  # old server
        "SHOW MASTER STATUS": [("binlog.000007", 1234, "", "", "uuid-1:1-42")],
        "SELECT @@GLOBAL.GTID_EXECUTED": [("uuid-1:1-42",)],
        "SELECT @@server_id": [(11,)],
        "SHOW BINARY LOGS": [("binlog.000006", 1048576), ("binlog.000007", 2048)],
    }

    def run(sql):
        a = answers[sql]
        if isinstance(a, Exception):
            raise a
        return a

    off = probe_master_offset(run)
    assert (off.file, off.pos, off.gtid_set, off.server_id) == (
        "binlog.000007", 1234, "uuid-1:1-42", 11,
    )
    assert probe_binary_logs(run) == [("binlog.000006", 1048576), ("binlog.000007", 2048)]
    assert offset_is_resumable(off, run)
    assert not offset_is_resumable(BinlogOffset(file="binlog.000001", pos=4), run)
    assert not offset_is_resumable(BinlogOffset(), run)  # zero offset

    # reader with no explicit start probes the master (start-from-now)
    reader = LiveBinlogStreamReader({}, lambda off: iter(()), query_runner=run)
    got = BinlogOffset.from_json(reader.initialOffset())
    assert (got.file, got.pos) == ("binlog.000007", 1234)
    # explicit start wins over the probe
    reader2 = LiveBinlogStreamReader({"file": "binlog.000002", "pos": "99"},
                                     lambda off: iter(()), query_runner=run)
    assert BinlogOffset.from_json(reader2.initialOffset()).file == "binlog.000002"


def test_max_ops_per_batch_backpressure():
    """Bounded bites, but cuts ONLY at transaction boundaries: a batch
    never ends mid-transaction (a restart there would strand
    pending_gtid/in_trx — the reference makes positions durable only
    at XID/DDL boundaries, canal/sync.go:122-171)."""
    sock = _FakeSocket(_event_script())
    sock.arrive(100)
    reader = LiveBinlogStreamReader({"max_ops_per_batch": "3"}, sock.factory)
    rows, end = reader.read(reader.initialOffset())
    ops = [_cols(r)["op_type"] for r in rows]
    # limit 3 hits at 'gtid' (mid-frame) -> extends through the commit
    assert ops == ["rotate", "ddl", "gtid", "begin", "insert", "insert", "commit"]
    assert BinlogOffset.from_json(end).pos == 300  # a safe restart point
    rows2, end2 = reader.read(end)
    assert [_cols(r)["op_type"] for r in rows2] == ["gtid", "begin", "update", "commit"]
    assert BinlogOffset.from_json(end2).pos > BinlogOffset.from_json(end).pos


def test_live_reader_under_real_spark_streaming(spark, tmp_path):
    """The production LiveBinlogStreamReader runs inside an actual
    spark.readStream (registration, driver prefetch, WAL, checkpoint)
    fed by the scripted fake-binlog source — end to end into the
    apply-changes consumer."""
    from pyspark.sql import functions as F

    from dolphinbeat_spark.sources.binlog_fake import register_fake_binlog_source

    register_fake_binlog_source(spark)
    out = str(tmp_path / "env_out")

    # max_ops_per_batch=17 caps each micro-batch; a python simple
    # stream reader serves ONE batch per availableNow trigger, so
    # repeated runs over the same checkpoint exercise BOTH multi-batch
    # chunking AND checkpoint-resume of the production reader
    def run_once():
        stream = (
            spark.readStream.format("dolphinbeat_binlog_fake")
            .option("n_trx", "6")
            .option("rows_per_trx", "4")
            .option("max_ops_per_batch", "17")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    for _ in range(4):  # 44 ops / 17 per batch -> 3 batches + empty tail
        run_once()
    got = spark.read.parquet(out)
    by_op = {r["op_type"]: r["n"] for r in
             got.groupBy("op_type").agg(F.count("*").alias("n")).collect()}
    # 1 rotate + 1 ddl + 6x(gtid, begin, 4 inserts, commit)
    assert by_op == {"rotate": 1, "ddl": 1, "gtid": 6, "begin": 6,
                     "insert": 24, "commit": 6}
    inserts = got.filter(F.col("op_type") == "insert")
    ids = sorted(int(r["after"]["id"]) for r in inserts.collect())
    assert ids == list(range(1, 25))  # no loss, no dup across batches
    assert {r["log_name"] for r in inserts.collect()} == {"binlog.000001"}
    # commits carry their gtid (D6 through the real streaming path)
    gtids = {r["gtid"] for r in got.filter(F.col("op_type") == "commit").collect()}
    assert gtids == {f"uuid-f:{i}" for i in range(1, 7)}


def test_arrow_reader_under_real_spark_streaming(spark, tmp_path):
    """The executor-side Arrow reader (full DataSourceStreamReader:
    driver offset planning, shard partitions, RecordBatch handoff)
    produces the same envelope content as the driver-side simple
    reader on the identical script — through a real spark.readStream."""
    from pyspark.sql import functions as F

    from dolphinbeat_spark.sources.binlog_fake import (
        register_fake_arrow_binlog_source,
    )

    register_fake_arrow_binlog_source(spark)
    out = str(tmp_path / "arrow_out")
    stream = (
        spark.readStream.format("dolphinbeat_binlog_fake_arrow")
        .option("n_trx", "6")
        .option("rows_per_trx", "4")
        .option("arrow_batch_rows", "16")  # force several RecordBatches
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "arrow_ckp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    by_op = {r["op_type"]: r["n"] for r in
             got.groupBy("op_type").agg(F.count("*").alias("n")).collect()}
    assert by_op == {"rotate": 1, "ddl": 1, "gtid": 6, "begin": 6,
                     "insert": 24, "commit": 6}
    ids = sorted(int(r["after"]["id"]) for r in
                 got.filter(F.col("op_type") == "insert").collect())
    assert ids == list(range(1, 25))
    gtids = {r["gtid"] for r in got.filter(F.col("op_type") == "commit").collect()}
    assert gtids == {f"uuid-f:{i}" for i in range(1, 7)}


def test_arrow_reader_sharded_partitions(spark, tmp_path):
    """shard_count=3: row ops land in exactly one shard (crc32 of
    test.fake_t), control ops ship on shard 0 only — no duplication
    across the union of partitions, and per-table order survives."""
    from pyspark.sql import functions as F

    from dolphinbeat_spark.sources.binlog_fake import (
        register_fake_arrow_binlog_source,
    )

    register_fake_arrow_binlog_source(spark)
    out = str(tmp_path / "shard_out")
    stream = (
        spark.readStream.format("dolphinbeat_binlog_fake_arrow")
        .option("n_trx", "5")
        .option("rows_per_trx", "3")
        .option("shard_count", "3")
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "shard_ckp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    by_op = {r["op_type"]: r["n"] for r in
             got.groupBy("op_type").agg(F.count("*").alias("n")).collect()}
    # control ops exactly once (shard 0), all 15 inserts exactly once
    assert by_op == {"rotate": 1, "ddl": 1, "gtid": 5, "begin": 5,
                     "insert": 15, "commit": 5}
    ids = sorted(int(r["after"]["id"]) for r in
                 got.filter(F.col("op_type") == "insert").collect())
    assert ids == list(range(1, 16))
    # per-table order: log_pos of inserts strictly increases with id
    rows = sorted(
        ((int(r["after"]["id"]), r["log_pos"]) for r in
         got.filter(F.col("op_type") == "insert").collect())
    )
    poss = [p for _, p in rows]
    assert poss == sorted(poss)


def test_arrow_reader_replay_is_deterministic():
    """A partition is a fixed [start,end) coordinate range over an
    immutable log: reading it twice yields byte-identical batches (the
    failure-recovery property the class docstring claims)."""
    from dolphinbeat_spark.sources.binlog_source import (
        _read_shard_arrow,
        _ShardRangePartition,
        BinlogOffset,
    )

    opts = {
        "provider": "dolphinbeat_spark.sources.binlog_fake:arrow_scripted_provider",
        "n_trx": "4",
        "rows_per_trx": "3",
    }
    start = BinlogOffset(file="", pos=4).to_json()
    end = BinlogOffset(file="binlog.000001", pos=10_000).to_json()
    part = _ShardRangePartition(start, end, 0, 1)
    a = list(_read_shard_arrow(opts, part, batch_rows=7))
    b = list(_read_shard_arrow(opts, part, batch_rows=7))
    assert len(a) == len(b) and len(a) >= 2  # several RecordBatches
    for ba, bb in zip(a, b):
        assert ba.equals(bb)
    # and a mid-log start replays strictly after its offset
    mid = BinlogOffset(file="binlog.000001", pos=100).to_json()
    tail = list(_read_shard_arrow(opts, _ShardRangePartition(mid, end, 0, 1), 1000))
    import pyarrow as pa
    tbl = pa.Table.from_batches(tail)
    assert min(x for x in tbl.column("log_pos").to_pylist() if x) > 100


def test_arrow_reader_latest_offset_clamp():
    """Admission control: latestOffset advances at most
    max_pos_delta_per_batch past the previously planned end (same
    file); a rotation resets the clamp."""
    from dolphinbeat_spark.sources.binlog_source import ArrowBinlogStreamReader

    opts = {
        "provider": "dolphinbeat_spark.sources.binlog_fake:arrow_scripted_provider",
        "n_trx": "50",
        "rows_per_trx": "10",
        "max_pos_delta_per_batch": "100",
    }
    r = ArrowBinlogStreamReader(opts)
    first = r.latestOffset()  # no previous end: head passes through
    head_pos = first["pos"]
    assert head_pos > 200
    # simulate having planned a far-behind end, then re-probe
    from dolphinbeat_spark.sources.binlog_source import BinlogOffset

    r._planned_end = BinlogOffset(file="binlog.000001", pos=4)
    clamped = r.latestOffset()
    assert clamped["pos"] == 104  # 4 + max_pos_delta
    # next call advances another window from the clamped plan
    assert r.latestOffset()["pos"] == 204
    # file rotation: clamp resets (different file names don't compare)
    r._planned_end = BinlogOffset(file="binlog.000000", pos=999_999)
    assert r.latestOffset()["pos"] == head_pos


def test_arrow_reader_checkpoint_resume(spark, tmp_path):
    """Offsets checkpoint through the full-reader protocol: a second
    run over the same checkpoint with a LONGER script resumes from the
    committed offset — earlier transactions are not re-emitted."""
    from pyspark.sql import functions as F

    from dolphinbeat_spark.sources.binlog_fake import (
        register_fake_arrow_binlog_source,
    )

    register_fake_arrow_binlog_source(spark)
    out = str(tmp_path / "resume_out")
    ckp = str(tmp_path / "resume_ckp")

    def run(n_trx: int):
        q = (
            spark.readStream.format("dolphinbeat_binlog_fake_arrow")
            .option("n_trx", str(n_trx))
            .option("rows_per_trx", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(3)
    run(8)  # same checkpoint, longer log: only trx 4..8 are new
    got = spark.read.parquet(out)
    inserts = got.filter(F.col("op_type") == "insert").collect()
    ids = sorted(int(r["after"]["id"]) for r in inserts)
    assert ids == list(range(1, 17)), ids  # 8 trx x 2 rows, no dup, no loss
    gtids = sorted(r["gtid"] for r in got.filter("op_type = 'commit'").collect())
    assert gtids == sorted(f"uuid-f:{i}" for i in range(1, 9))


def _two_file_dump_provider(options):
    """A dump thread's view of two binlog files: an artificial rotate
    (log_pos 0) each time it opens a file, file 1 ending with its real
    rotate at position 600 and file 2 holding two transactions."""
    files = [
        ("mysql-bin.000001", [
            GtidEvent("u:1", 100), QueryEvent(b"BEGIN", b"d", 150),
            WriteRowsEvent("d", "t", [{"id": 1}], 200), XidEvent(1, 250),
            RotateEvent("mysql-bin.000002", 4, log_pos=600),
        ]),
        ("mysql-bin.000002", [
            GtidEvent("u:2", 100), QueryEvent(b"BEGIN", b"d", 150),
            WriteRowsEvent("d", "t", [{"id": 2}], 200), XidEvent(2, 250),
            GtidEvent("u:3", 300), QueryEvent(b"BEGIN", b"d", 350),
            WriteRowsEvent("d", "t", [{"id": 3}], 400), XidEvent(3, 450),
        ]),
    ]

    def factory(offset):
        for name, events in files:
            if name < offset.file:
                continue
            yield RotateEvent(name, offset.pos if name == offset.file else 4)
            for e in events:
                if (name, e.packet.log_pos) > (offset.file, offset.pos):
                    yield e

    def latest(opts):
        return BinlogOffset(file="mysql-bin.000002", pos=450).to_json()

    return factory, latest


def test_arrow_reader_batch_across_a_live_rotation():
    """A batch from the tail of file 1 to a position in file 2 below
    file 1's size: the real rotate lies in file 1 and the artificial
    rotate at the head of file 2, so the batch emits both and file 2's
    events up to its end — not stop at the rotation, which would leave
    them to no batch (the next one starts past them)."""
    import pyarrow as pa

    from dolphinbeat_spark.sources.binlog_source import (
        _read_shard_arrow,
        _ShardRangePartition,
    )

    opts = {"provider": f"{__name__}:_two_file_dump_provider"}
    start = BinlogOffset(file="mysql-bin.000001", pos=250).to_json()
    end = BinlogOffset(file="mysql-bin.000002", pos=250).to_json()
    rows = pa.Table.from_batches(list(_read_shard_arrow(
        opts, _ShardRangePartition(start, end, 0, 1), 100))).to_pylist()
    assert [(r["op_type"], r["log_name"], r["log_pos"]) for r in rows] == [
        ("rotate", "mysql-bin.000001", 0),  # the dump's opening rotate
        ("rotate", "mysql-bin.000001", 600),
        ("rotate", "mysql-bin.000002", 0),
        ("gtid", "mysql-bin.000002", 100),
        ("begin", "mysql-bin.000002", 150),
        ("insert", "mysql-bin.000002", 200),
        ("commit", "mysql-bin.000002", 250),
    ]
