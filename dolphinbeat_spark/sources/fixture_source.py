"""In-memory fixture source (SURVEY.md §7.2 step 1).

A Spark 4 Python Data Source that streams the FIXTURES.md F5 golden
envelope sequences in micro-batches — the no-MySQL stand-in for the
binlog source, sharing its offset model ({"index": n} here;
{file,pos,gtid} there). Lets every downstream component (filters,
registry updates, ordered sink, resume) be exercised end-to-end with
checkpoints, exactly like the reference's docker quick-start demo
(``README.md:26-41``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA, golden_sequences

FIXTURE_SOURCE_NAME = "dolphinbeat_fixture"


def _row_tuple(op: dict) -> tuple:
    def conv(field, v):
        if v is None:
            return None
        if field.dataType.typeName() == "struct":
            return tuple(v[f.name] for f in field.dataType.fields)
        return v

    return tuple(conv(f, op.get(f.name)) for f in ENVELOPE_SCHEMA.fields)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class FixtureStreamReader(DataSourceStreamReader):
    """Offsets are indices into the golden op list; each micro-batch
    serves ``batch_size`` ops until exhausted (then repeats if
    ``loops`` > 1 — lets soak tests run arbitrarily long).

    ``max_events_per_batch`` is the back-pressure valve (the
    maxOffsetsPerTrigger analog, replacing the reference's bounded
    5120-op channels — SURVEY §4.2): each trigger's latestOffset
    advances at most that many events past the previous plan, so a
    fast source feeds a slow sink in bounded bites instead of one
    unbounded batch. (After a restart the plan pointer re-walks from
    0 in empty no-op triggers until it passes the checkpointed offset
    — harmless for a fixture source; a production source would seed
    it from the restart offset.)"""

    def __init__(self, options: dict):
        self.ops = golden_sequences()
        self.batch_size = int(options.get("batch_size", "4"))
        self.loops = int(options.get("loops", "1"))
        self.total = len(self.ops) * self.loops
        self.use_arrow = options.get("arrow", "true").lower() == "true"
        self.max_events = int(options.get("max_events_per_batch", "0"))  # 0 = all
        self._planned = 0

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        if self.max_events > 0:
            self._planned = min(self._planned + self.max_events, self.total)
            return {"index": self._planned}
        # everything currently available; availableNow captures this
        # once and drains to it, chunked by partitions() below
        return {"index": self.total}

    def partitions(self, start: dict, end: dict):
        # chunk the range so a batch parallelizes like a real source
        out = []
        i = start["index"]
        while i < end["index"]:
            j = min(i + self.batch_size, end["index"])
            out.append(_RangePartition(i, j))
            i = j
        return out or [_RangePartition(start["index"], end["index"])]

    def read(self, partition: _RangePartition):
        if self.use_arrow:
            yield from self._read_arrow(partition)
        else:
            for i in range(partition.start, partition.end):
                yield _row_tuple(self.ops[i % len(self.ops)])

    def _read_arrow(self, partition: _RangePartition):
        """Arrow fast path: the golden ops are materialized ONCE as a
        pyarrow table per worker; partitions are served as zero-copy
        slices. Yielding RecordBatches instead of tuples skips the
        per-row Python→JVM pickling that caps a naive Python source —
        ~10× throughput, and exactly the discipline the production
        Arrow binlog reader uses (decode into arrow buffers, hand
        batches to the JVM)."""
        import pyarrow as pa

        n = len(self.ops)
        if not hasattr(self, "_arrow_tbl"):
            from pyspark.sql.pandas.types import to_arrow_schema

            schema = to_arrow_schema(ENVELOPE_SCHEMA)
            cols = list(zip(*[_row_tuple(op) for op in self.ops]))
            arrays = [
                pa.array(list(c), type=f.type) for c, f in zip(cols, schema)
            ]
            base = pa.Table.from_arrays(arrays, schema=schema)
            # repeat to ~8k rows so slices are big (a 16-row RecordBatch
            # per yield costs more in per-batch overhead than it saves)
            reps = max(1, 8192 // n)
            self._arrow_tbl = pa.concat_tables([base] * reps).combine_chunks()
        big = self._arrow_tbl.num_rows  # multiple of n → phase-aligned
        i = partition.start
        while i < partition.end:
            off = i % n
            take = min(partition.end - i, big - off)
            for batch in self._arrow_tbl.slice(off, take).to_batches():
                yield batch
            i += take

    def commit(self, end: dict) -> None:
        pass


class FixtureDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FIXTURE_SOURCE_NAME

    def schema(self):
        return ENVELOPE_SCHEMA

    def streamReader(self, schema):
        return FixtureStreamReader(self.options)


def register_fixture_source(spark: SparkSession) -> None:
    spark.dataSource.register(FixtureDataSource)


def golden_envelope_df(spark: SparkSession) -> DataFrame:
    """Batch form of the golden sequences (for non-streaming tests)."""
    return spark.createDataFrame([_row_tuple(op) for op in golden_sequences()], ENVELOPE_SCHEMA)
