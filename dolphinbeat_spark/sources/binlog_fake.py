"""Scripted fake-binlog DataSource: the PRODUCTION reader inside real
Spark streaming machinery.

``LiveBinlogStreamReader`` is exercised directly by protocol unit
tests (tests/test_binlog_live_reader.py); this module goes one step
further and runs the very same class under an actual
``spark.readStream`` — registration, driver-side prefetch, WAL
persistence, checkpoint commit — with a deterministic scripted event
stream standing in for the MySQL socket (the class-name duck-typing of
``adapt_replication_event`` makes the stand-in exact). This is the
strongest no-MySQL proof available that the live wiring is correct:
only the native client's socket (tested on its own against a
loopback master, tests/test_repl_client.py) is swapped out.

Script shape (options: ``n_trx``, ``rows_per_trx``): one CREATE TABLE,
then n_trx transactions of GTID/BEGIN/inserts/XID against
``test.fake_t``, with strictly increasing log positions.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource

from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA
from dolphinbeat_spark.sources.binlog_source import BinlogOffset, LiveBinlogStreamReader

FAKE_BINLOG_SOURCE_NAME = "dolphinbeat_binlog_fake"


class _Packet:
    def __init__(self, log_pos: int):
        self.log_pos = log_pos


class RotateEvent:
    def __init__(self, next_binlog: str, position: int):
        self.next_binlog = next_binlog
        self.position = position
        self.timestamp = 0
        self.packet = _Packet(0)


class GtidEvent:
    def __init__(self, gtid: str, log_pos: int):
        self.gtid = gtid
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


class QueryEvent:
    def __init__(self, query: str, schema: str, log_pos: int):
        self.query = query.encode()
        self.schema = schema.encode()
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


class XidEvent:
    def __init__(self, xid: int, log_pos: int):
        self.xid = xid
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


class WriteRowsEvent:
    def __init__(self, schema: str, table: str, values_rows: list[dict], log_pos: int):
        self.schema = schema
        self.table = table
        self.rows = [{"values": v} for v in values_rows]
        self.timestamp = 1000
        self.packet = _Packet(log_pos)


#: script memo — every shard task of every micro-batch re-enters the
#: factory; rebuilding a 100 k-event script per task charged ~0.2 s of
#: pure fixture overhead to each measured decode run. Events are
#: treated as immutable by the readers, so sharing one list is safe.
_SCRIPT_MEMO: dict[tuple, list] = {}


def scripted_events(n_trx: int, rows_per_trx: int, n_tables: int = 1) -> list:
    """Deterministic event script with strictly increasing log_pos.

    ``n_tables`` > 1 spreads transactions round-robin over that many
    tables (``test.fake_t``, ``test.fake_t1``, ...) — the realistic
    many-table CDC stream shape, and what gives the shard-by-table
    readers actual work to split (a single-table script serializes all
    row decode onto one shard)."""
    key = (n_trx, rows_per_trx, n_tables)
    cached = _SCRIPT_MEMO.get(key)
    if cached is not None:
        return cached
    pos = [4]

    def nxt() -> int:
        pos[0] += 20
        return pos[0]

    tables = ["fake_t"] + [f"fake_t{i}" for i in range(1, n_tables)]
    events: list = [RotateEvent("binlog.000001", 4)]
    for tbl in tables:
        events.append(
            QueryEvent(
                f"CREATE TABLE test.{tbl} (id INT PRIMARY KEY, v VARCHAR(20))",
                "test",
                nxt(),
            )
        )
    rid = 0
    for t in range(n_trx):
        events.append(GtidEvent(f"uuid-f:{t + 1}", nxt()))
        events.append(QueryEvent("BEGIN", "test", nxt()))
        rows = []
        for _ in range(rows_per_trx):
            rid += 1
            rows.append({"id": rid, "v": f"val-{rid}"})
        events.append(WriteRowsEvent("test", tables[t % n_tables], rows, nxt()))
        events.append(XidEvent(t + 1, nxt()))
    _SCRIPT_MEMO[key] = events
    return events


def _scripted_factory(n_trx: int, rows_per_trx: int, n_tables: int = 1):
    events = scripted_events(n_trx, rows_per_trx, n_tables)

    def factory(offset: BinlogOffset):
        # immutable-log seek: replay everything strictly after offset.pos
        # (the rotate, packet pos 0, only replays from a cold start)
        start_pos = offset.pos if offset.file else 0
        return iter(
            [
                e
                for e in events
                if e.packet.log_pos > start_pos
                or (start_pos <= 4 and isinstance(e, RotateEvent))
            ]
        )

    return factory


class FakeBinlogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FAKE_BINLOG_SOURCE_NAME

    def schema(self):
        return ENVELOPE_SCHEMA

    def simpleStreamReader(self, schema):
        n_trx = int(self.options.get("n_trx", "10"))
        rows_per_trx = int(self.options.get("rows_per_trx", "5"))
        n_tables = int(self.options.get("n_tables", "1"))
        return LiveBinlogStreamReader(
            self.options,
            event_iter_factory=_scripted_factory(n_trx, rows_per_trx, n_tables),
        )


def register_fake_binlog_source(spark) -> None:
    spark.dataSource.register(FakeBinlogDataSource)


FAKE_ARROW_BINLOG_SOURCE_NAME = "dolphinbeat_binlog_fake_arrow"


def arrow_scripted_provider(options: dict):
    """Provider for the Arrow reader (passed by module path so the
    executor constructs it locally): (event_iter_factory, latest_fn)
    over the same deterministic script the simple fake source uses."""
    n_trx = int(options.get("n_trx", "10"))
    rows_per_trx = int(options.get("rows_per_trx", "5"))
    n_tables = int(options.get("n_tables", "1"))
    factory = _scripted_factory(n_trx, rows_per_trx, n_tables)

    def latest(opts: dict) -> dict:
        events = scripted_events(n_trx, rows_per_trx, n_tables)
        last = max(e.packet.log_pos for e in events)
        return BinlogOffset(
            file="binlog.000001", pos=last,
            server_id=int(opts.get("server_id", "0")),
        ).to_json()

    return factory, latest


class FakeArrowBinlogDataSource(DataSource):
    """The executor-side Arrow reader under real streaming machinery,
    same scripted stand-in: latestOffset planning, shard partitions,
    RecordBatch handoff, checkpoint commit all execute for real."""

    @classmethod
    def name(cls) -> str:
        return FAKE_ARROW_BINLOG_SOURCE_NAME

    def schema(self):
        return ENVELOPE_SCHEMA

    def streamReader(self, schema):
        from dolphinbeat_spark.sources.binlog_source import ArrowBinlogStreamReader

        opts = dict(self.options)
        opts.setdefault(
            "provider", "dolphinbeat_spark.sources.binlog_fake:arrow_scripted_provider"
        )
        return ArrowBinlogStreamReader(opts)


def register_fake_arrow_binlog_source(spark) -> None:
    spark.dataSource.register(FakeArrowBinlogDataSource)
