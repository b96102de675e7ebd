"""Fault-injection crash matrix for the commit of every stateful sink.

Each stateful sink commits through ``streaming/rollup.merge_commit``.
Here each filesystem step of a commit (``os.rename``, ``shutil.rmtree``,
``DataFrameWriter.parquet``) is made to raise in turn, for every step a
clean run reaches. After each crash the batch is replayed: the state
must equal the no-crash run's, no aside directory may remain, and a
second replay must change nothing.

The ordered sinks get the same treatment over their own steps: the
pyarrow parquet write and ``os.replace`` of the file sink, and each
``produce``/``flush`` of the Kafka producer; the replay must deliver
what a clean run delivers and record the same ``_seq_meta``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from datetime import datetime
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from conftest import FakeProducer
from pyspark.sql import DataFrameWriter

from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA, empty_op
from dolphinbeat_spark.sinks.apply_changes import (
    apply_batch,
    apply_batch_partitioned,
    read_snapshot,
)
from dolphinbeat_spark.sinks.incremental_agg import (
    AggViewSpec,
    merge_agg_batch,
    merge_agg_batch_partitioned,
    read_agg_view,
)
from dolphinbeat_spark.sinks.ordered import (
    JsonKafkaSink,
    KafkaTransport,
    OrderedFileSink,
    ProtobufKafkaSink,
    read_with_consumer_dedup,
)
from dolphinbeat_spark.streaming.rollup import (
    merge_rollup_batch,
    merge_rollup_batch_partitioned,
    read_partitioned_rollup,
)


class Crash(Exception):
    pass


_MERGE_STEPS = [
    (os, "rename", "rename"),
    (shutil, "rmtree", "rmtree"),
    (DataFrameWriter, "parquet", "parquet"),
]


@contextlib.contextmanager
def _faults(crash_at: int | None = None, targets=_MERGE_STEPS):
    """Record every commit step, each an ``(owner, attribute, name)`` of
    ``targets``; raise :class:`Crash` instead of taking step number
    ``crash_at`` (1-based; ``None`` records only)."""
    steps: list[str] = []

    def wrap(name, fn):
        def step(*args, **kwargs):
            steps.append(name)
            if len(steps) == crash_at:
                raise Crash(f"{name} (step {crash_at})")
            return fn(*args, **kwargs)

        return step

    with pytest.MonkeyPatch.context() as mp:
        for owner, attr, name in targets:
            mp.setattr(owner, attr, wrap(name, getattr(owner, attr)))
        yield steps


def _asides(root: str) -> list[str]:
    return [
        d for _, dirs, _ in os.walk(root) for d in dirs
        if d.startswith(("_next.", "_old."))
    ]


def _crash_matrix(tmp_path, setup, run, state):
    """``setup(root)`` commits the prior state, ``run(root)`` applies
    the batch under test, ``state(root)`` reads the sink canonically."""
    base = tmp_path / "base"
    setup(str(base))

    def fresh(name: str) -> str:
        shutil.copytree(base, tmp_path / name)
        return str(tmp_path / name)

    clean = fresh("clean")
    with _faults() as steps:
        run(clean)
    want = state(clean)
    assert steps.count("rename") >= 2 and "parquet" in steps, steps
    for n in range(1, len(steps) + 1):
        root = fresh(f"crash{n}")
        with _faults(crash_at=n) as seen, pytest.raises(Crash):
            run(root)
        assert seen == steps[:n], (n, steps)
        run(root)
        assert state(root) == want, (n, steps[n - 1])
        assert not _asides(root), n
        run(root)
        assert state(root) == want, (n, "second replay")


def _env(spark, rows):
    """rows: (op, pos, before, after) with images as {col: str|None}."""

    def img(d):
        if d is None:
            return None, None
        return (
            {k: "" if v is None else v for k, v in d.items()},
            {k: v is None for k, v in d.items()},
        )

    ops = []
    for op, pos, before, after in rows:
        b, bn = img(before)
        a, an = img(after)
        ops.append(empty_op(op_type=op, log_name="b.000001", log_pos=pos,
                            row_index=0, db="d", table="t", before=b,
                            before_null=bn, after=a, after_null=an))
    return spark.createDataFrame(ops, ENVELOPE_SCHEMA)


# --- apply_batch / apply_batch_partitioned ----------------------------------

_FULL = (
    [("insert", i, None, {"id": str(i), "name": f"n{i}"}) for i in range(1, 5)],
    [
        ("update", 10, {"id": "1", "name": "n1"}, {"id": "1", "name": "u1"}),
        ("delete", 11, {"id": "2", "name": "n2"}, None),
        ("insert", 12, None, {"id": "5", "name": "n5"}),
    ],
    ["name"],
    {},
)
_MINIMAL = (
    [
        ("insert", 1, None, {"id": "1", "name": "a", "bal": "1"}),
        ("insert", 2, None, {"id": "2", "name": "bob", "bal": "5"}),
    ],
    [
        ("update", 10, {"id": "2"}, {"id": "7"}),
        ("update", 11, {"id": "1"}, {"bal": "9"}),
    ],
    ["name", "bal"],
    {"row_image": "minimal"},
)
_PATCH_JSON = (
    [("insert", 1, None, {"id": "1", "doc": '{"arr":[1,2,3]}'})],
    [
        ("update", 10, {"id": "1", "doc": '{"arr":[1,2,3]}'},
         {"id": "1", "doc": '{"$json_diff":[{"op":"remove","path":"$.arr[0]"}]}'}),
        ("insert", 11, None, {"id": "2", "doc": '{"b":1}'}),
    ],
    ["doc"],
    {"patch_json_cols": ("doc",)},
)


def _snapshot_state(spark, path):
    return sorted(tuple(r) for r in read_snapshot(spark, path).collect())


@pytest.mark.parametrize(
    "rows0,rows1,value_cols,kw",
    [_FULL, _MINIMAL, _PATCH_JSON],
    ids=["full", "minimal", "patch-json"],
)
def test_apply_batch_crash_matrix(spark, tmp_path, rows0, rows1, value_cols, kw):
    b0, b1 = _env(spark, rows0), _env(spark, rows1)

    def apply(root, batch, batch_id):
        apply_batch(spark, batch, os.path.join(root, "snap"), ["id"], value_cols,
                    batch_id=batch_id, **kw)

    _crash_matrix(
        tmp_path,
        lambda root: apply(root, b0, 0),
        lambda root: apply(root, b1, 1),
        lambda root: _snapshot_state(spark, os.path.join(root, "snap")),
    )


def test_apply_batch_partitioned_crash_matrix(spark, tmp_path):
    rows0, rows1, value_cols, _ = _FULL
    b0, b1 = _env(spark, rows0), _env(spark, rows1)

    def apply(root, batch, batch_id):
        apply_batch_partitioned(spark, batch, os.path.join(root, "snap"), ["id"],
                                value_cols, num_buckets=2, batch_id=batch_id)

    _crash_matrix(
        tmp_path,
        lambda root: apply(root, b0, 0),
        lambda root: apply(root, b1, 1),
        lambda root: _snapshot_state(spark, os.path.join(root, "snap")),
    )


# --- rollups -----------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        [(datetime.fromisoformat(ts), g) for ts, g in rows], "ts timestamp, grp string"
    )


_EV0 = [("2024-01-01 10:00:05", "a"), ("2024-01-01 10:01:00", "b")]
# day 1 again (a partition with prior state) plus a new day 2
_EV1 = [("2024-01-01 10:00:30", "a"), ("2024-01-02 00:00:01", "a")]


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "partitioned"])
def test_rollup_crash_matrix(spark, tmp_path, partitioned):
    merge = merge_rollup_batch_partitioned if partitioned else merge_rollup_batch
    e0, e1 = _events(spark, _EV0), _events(spark, _EV1)

    def state(root):
        df = read_partitioned_rollup(spark, os.path.join(root, "rollup"))
        return sorted(tuple(r) for r in df.collect())

    _crash_matrix(
        tmp_path,
        lambda root: merge(e0, os.path.join(root, "rollup"), "ts", ["grp"], batch_id=0),
        lambda root: merge(e1, os.path.join(root, "rollup"), "ts", ["grp"], batch_id=1),
        state,
    )


# --- incremental aggregate views ---------------------------------------------

_VIEW = AggViewSpec(group_cols=("grp",), sum_cols=("amount",), distinct_cols=("amount",))
_AGG0 = [
    ("insert", 1, None, {"id": "1", "grp": "a", "amount": "5"}),
    ("insert", 2, None, {"id": "2", "grp": "b", "amount": "7"}),
]
_AGG1 = [
    ("update", 10, {"id": "1", "grp": "a", "amount": "5"},
     {"id": "1", "grp": "b", "amount": "5"}),
    ("insert", 11, None, {"id": "3", "grp": "c", "amount": "2"}),
]


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "partitioned"])
def test_agg_view_crash_matrix(spark, tmp_path, partitioned):
    b0, b1 = _env(spark, _AGG0), _env(spark, _AGG1)

    def merge(root, batch, batch_id):
        path = os.path.join(root, "view")
        if partitioned:
            merge_agg_batch_partitioned(batch, path, _VIEW, batch_id=batch_id,
                                        num_buckets=2)
        else:
            merge_agg_batch(batch, path, _VIEW, batch_id=batch_id)

    def state(root):
        df = read_agg_view(spark, os.path.join(root, "view"), _VIEW)
        return sorted(tuple(r) for r in df.collect())

    _crash_matrix(
        tmp_path,
        lambda root: merge(root, b0, 0),
        lambda root: merge(root, b1, 1),
        state,
    )


# --- ordered sinks -----------------------------------------------------------

_ORDERED_STEPS = [
    (pq, "write_table", "write_table"),
    (os, "replace", "replace"),
    (FakeProducer, "produce", "produce"),
    (FakeProducer, "flush", "flush"),
]


def _ordered_crash_matrix(tmp_path, setup, run, state, want_steps):
    """``_crash_matrix`` for an ordered sink: ``state(root)`` is what
    the last ``run`` delivered plus the ``_seq_meta`` files, and no
    ``.``-prefixed temp file may outlive a replay."""
    base = tmp_path / "base"
    setup(str(base))

    def fresh(name: str) -> str:
        shutil.copytree(base, tmp_path / name)
        return str(tmp_path / name)

    clean = fresh("clean")
    with _faults(targets=_ORDERED_STEPS) as steps:
        run(clean)
    want = state(clean)
    assert steps == want_steps, steps
    for n in range(1, len(steps) + 1):
        root = fresh(f"crash{n}")
        with _faults(crash_at=n, targets=_ORDERED_STEPS) as seen, pytest.raises(Crash):
            run(root)
        assert seen == steps[:n], (n, steps)
        run(root)
        assert state(root) == want, (n, steps[n - 1])
        temps = [f for _, _, files in os.walk(root) for f in files if f.startswith(".")]
        assert not temps, (n, temps)


def _seq_meta(path: str) -> dict:
    return {p.name: p.read_text() for p in sorted(Path(path).glob("*.json"))}


_ORDERED0 = [("insert", i, None, {"id": str(i)}) for i in range(1, 4)]
_ORDERED1 = [
    ("update", 12, {"id": "1"}, {"id": "9"}),
    ("insert", 10, None, {"id": "4"}),
    ("delete", 11, {"id": "2"}, None),
]


def test_ordered_file_sink_crash_matrix(spark, tmp_path):
    b0, b1 = _env(spark, _ORDERED0), _env(spark, _ORDERED1)

    def state(root):
        rows = read_with_consumer_dedup(spark, os.path.join(root, "out")).collect()
        return [r.asDict(recursive=True) for r in rows], _seq_meta(
            os.path.join(root, "out", "_seq_meta"))

    _ordered_crash_matrix(
        tmp_path,
        lambda root: OrderedFileSink(os.path.join(root, "out"))(b0, 0),
        lambda root: OrderedFileSink(os.path.join(root, "out"))(b1, 1),
        state,
        ["write_table", "replace", "replace"],
    )


@pytest.mark.parametrize("encoder", ["protobuf", "json"])
def test_kafka_sink_crash_matrix(spark, tmp_path, encoder):
    from dolphinbeat_spark.schema.registry import SchemaRegistry

    b0, b1 = _env(spark, _ORDERED0), _env(spark, _ORDERED1)
    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE d.t (id INT PRIMARY KEY)")
    delivered: dict[str, list] = {}

    def run(root, batch, batch_id):
        delivered[root] = log = []
        transport = KafkaTransport(FakeProducer(log), "ops")
        meta = os.path.join(root, "_seq_meta")
        if encoder == "json":
            sink = JsonKafkaSink(meta, produce=transport)
        else:
            sink = ProtobufKafkaSink(meta, reg, produce=transport, ops_per_payload=2)
        sink(batch, batch_id)

    n_msgs = 3 if encoder == "json" else 2
    _ordered_crash_matrix(
        tmp_path,
        lambda root: run(root, b0, 0),
        lambda root: run(root, b1, 1),
        lambda root: (delivered[root], _seq_meta(os.path.join(root, "_seq_meta"))),
        ["produce"] * n_msgs + ["flush", "replace"],
    )
