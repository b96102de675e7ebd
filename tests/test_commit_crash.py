"""Fault-injection crash matrix for the commit of every stateful sink.

Each sink commits through ``streaming/rollup.merge_commit``. Here each
filesystem step of a commit (``os.rename``, ``shutil.rmtree``,
``DataFrameWriter.parquet``) is made to raise in turn, for every step a
clean run reaches. After each crash the batch is replayed: the state
must equal the no-crash run's, no aside directory may remain, and a
second replay must change nothing.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from datetime import datetime

import pytest
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
from dolphinbeat_spark.streaming.rollup import (
    merge_rollup_batch,
    merge_rollup_batch_partitioned,
    read_partitioned_rollup,
)


class Crash(Exception):
    pass


@contextlib.contextmanager
def _faults(crash_at: int | None = None):
    """Record every commit step; raise :class:`Crash` instead of taking
    step number ``crash_at`` (1-based; ``None`` records only)."""
    steps: list[str] = []

    def wrap(name, fn):
        def step(*args, **kwargs):
            steps.append(name)
            if len(steps) == crash_at:
                raise Crash(f"{name} (step {crash_at})")
            return fn(*args, **kwargs)

        return step

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", wrap("rename", os.rename))
        mp.setattr(shutil, "rmtree", wrap("rmtree", shutil.rmtree))
        mp.setattr(DataFrameWriter, "parquet", wrap("parquet", DataFrameWriter.parquet))
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
