"""Incremental aggregate-view maintenance (CDC +/- delta algebra)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA, empty_op
from dolphinbeat_spark.sinks.incremental_agg import (
    AggViewSpec,
    merge_agg_batch,
    read_agg_view,
)

VIEW = AggViewSpec(group_cols=("grp",), sum_cols=("amount",))


def _op(op_type, pos, before=None, after=None):
    def img(d):
        if d is None:
            return None, None
        return (
            {k: ("" if v is None else str(v)) for k, v in d.items()},
            {k: v is None for k, v in d.items()},
        )

    b, bn = img(before)
    a, an = img(after)
    return empty_op(
        op_type=op_type, log_name="b.1", log_pos=pos, row_index=0,
        db="d", table="t", before=b, before_null=bn, after=a, after_null=an,
    )


def _batch(spark, ops):
    return spark.createDataFrame(ops, ENVELOPE_SCHEMA)


def _view_state(spark, path):
    return {
        r["grp"]: (r["n_rows"], r["sum_amount"])
        for r in read_agg_view(spark, path, VIEW).collect()
    }


def test_delta_algebra_across_batches(spark, tmp_path):
    path = str(tmp_path / "view")
    # batch 0: three inserts in two groups (one NULL amount)
    merge_agg_batch(_batch(spark, [
        _op("insert", 10, after={"id": 1, "grp": "a", "amount": 5}),
        _op("insert", 20, after={"id": 2, "grp": "a", "amount": None}),
        _op("insert", 30, after={"id": 3, "grp": "b", "amount": 7}),
    ]), path, VIEW, batch_id=0)
    assert _view_state(spark, path) == {"a": (2, 5.0), "b": (1, 7.0)}

    # batch 1: value update, GROUP-MOVING update, and a delete that
    # empties a group
    merge_agg_batch(_batch(spark, [
        _op("update", 40,
            before={"id": 1, "grp": "a", "amount": 5},
            after={"id": 1, "grp": "a", "amount": 9}),
        _op("update", 50,
            before={"id": 3, "grp": "b", "amount": 7},
            after={"id": 3, "grp": "a", "amount": 7}),
        _op("delete", 60, before={"id": 2, "grp": "a", "amount": None}),
    ]), path, VIEW, batch_id=1)
    # group b emptied -> dropped; a holds rows 1 (9) and 3 (7)
    assert _view_state(spark, path) == {"a": (2, 16.0)}

    # batch 2: delete the last non-null -> SUM over all-null group...
    merge_agg_batch(_batch(spark, [
        _op("insert", 70, after={"id": 4, "grp": "c", "amount": None}),
    ]), path, VIEW, batch_id=2)
    state = _view_state(spark, path)
    assert state["c"] == (1, None)  # SQL semantics: all-NULL SUM is NULL

    # replaying batch 1 (marker discipline) changes nothing
    merge_agg_batch(_batch(spark, [
        _op("delete", 60, before={"id": 2, "grp": "a", "amount": None}),
    ]), path, VIEW, batch_id=1)
    assert _view_state(spark, path) == state


def test_randomized_parity_with_full_recompute(spark, tmp_path):
    """Seeded random CDC stream over a small key space, chopped into
    batches: the incrementally maintained view must equal a full
    GROUP BY over the surviving rows after every batch."""
    rng = random.Random(7)
    path = str(tmp_path / "view")
    rows: dict[int, tuple[str, int | None]] = {}  # id -> (grp, amount)
    pos = 0
    batch_ops = []
    batch_id = 0

    def expected():
        agg: dict[str, list] = {}
        for grp, amt in rows.values():
            n, s, nn = agg.get(grp, (0, 0, 0))
            agg[grp] = (n + 1, s + (amt or 0), nn + (amt is not None))
        return {
            g: (n, float(s) if nn else None) for g, (n, s, nn) in agg.items()
        }

    for _ in range(120):
        pos += 10
        rid = rng.randrange(12)
        grp = rng.choice("xyz")
        amt = rng.choice([None, 1, 2, 5, 11])
        if rid not in rows:
            rows[rid] = (grp, amt)
            batch_ops.append(_op("insert", pos, after={"id": rid, "grp": grp, "amount": amt}))
        elif rng.random() < 0.35:
            og, oa = rows.pop(rid)
            batch_ops.append(_op("delete", pos, before={"id": rid, "grp": og, "amount": oa}))
        else:
            og, oa = rows[rid]
            rows[rid] = (grp, amt)
            batch_ops.append(_op(
                "update", pos,
                before={"id": rid, "grp": og, "amount": oa},
                after={"id": rid, "grp": grp, "amount": amt},
            ))
        if len(batch_ops) >= 17:
            merge_agg_batch(_batch(spark, batch_ops), path, VIEW, batch_id=batch_id)
            batch_ops, batch_id = [], batch_id + 1
            assert _view_state(spark, path) == expected(), f"batch {batch_id - 1}"
    if batch_ops:
        merge_agg_batch(_batch(spark, batch_ops), path, VIEW, batch_id=batch_id)
        assert _view_state(spark, path) == expected()


def test_streaming_wiring(spark, tmp_path):
    """foreachBatch wiring end to end on the fixture golden stream:
    the maintained per-table row-count view matches the applied rows."""
    from dolphinbeat_spark.sinks.incremental_agg import incremental_agg_stream
    from dolphinbeat_spark.sources.fixture_source import register_fixture_source

    register_fixture_source(spark)
    view = AggViewSpec(group_cols=("id",), sum_cols=())
    path = str(tmp_path / "view")
    stream = spark.readStream.format("dolphinbeat_fixture").load().filter(
        # consumer-side dedup first (K7): the golden stream ends with a
        # producer-retry duplicate of the update op
        F.col("op_type").isin("insert", "update", "delete")
    ).dropDuplicates(["log_name", "log_pos", "op_type", "row_index"])
    q = (
        incremental_agg_stream(stream, path, str(tmp_path / "ckp"), view)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = {r["id"]: r["n_rows"] for r in read_agg_view(spark, path, view).collect()}
    # golden: ids 1,3 survive (2 deleted); update keeps id 1 at 1 row
    assert state == {"1": 1, "3": 1}


def test_partitioned_merge_parity_and_bucket_isolation(spark, tmp_path):
    """The bucket-partitioned variant reaches the same state as the
    flat merge, only touched buckets rewrite, and per-bucket markers
    make delta replay exactly-once."""
    import os

    from dolphinbeat_spark.sinks.incremental_agg import merge_agg_batch_partitioned

    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    b0 = [
        _op("insert", 10, after={"id": 1, "grp": "a", "amount": 5}),
        _op("insert", 20, after={"id": 2, "grp": "b", "amount": 3}),
        _op("insert", 30, after={"id": 3, "grp": "c", "amount": None}),
    ]
    b1 = [
        _op("update", 40,
            before={"id": 1, "grp": "a", "amount": 5},
            after={"id": 1, "grp": "b", "amount": 6}),
        _op("delete", 50, before={"id": 3, "grp": "c", "amount": None}),
    ]
    for i, ops in enumerate((b0, b1)):
        merge_agg_batch(_batch(spark, ops), flat, VIEW, batch_id=i)
        merge_agg_batch_partitioned(_batch(spark, ops), part, VIEW, batch_id=i, num_buckets=4)
    assert _view_state(spark, part) == _view_state(spark, flat) == {"b": (2, 9.0)}

    # replaying batch 1 against the partitioned view double-counts
    # NOTHING (per-bucket markers)
    before = _view_state(spark, part)
    merge_agg_batch_partitioned(_batch(spark, b1), part, VIEW, batch_id=1, num_buckets=4)
    assert _view_state(spark, part) == before

    # cold-bucket isolation: a batch touching only group 'b' must not
    # rewrite other buckets' directories
    buckets = {d: os.path.getmtime(os.path.join(part, d))
               for d in os.listdir(part) if d.startswith("__bucket=")}
    merge_agg_batch_partitioned(
        _batch(spark, [_op("insert", 60, after={"id": 9, "grp": "b", "amount": 1})]),
        part, VIEW, batch_id=2, num_buckets=4,
    )
    after = {d: os.path.getmtime(os.path.join(part, d))
             for d in os.listdir(part) if d.startswith("__bucket=")}
    unchanged = [d for d in buckets if d in after and after[d] == buckets[d]]
    changed = [d for d in after if d not in buckets or after[d] != buckets.get(d)]
    assert len(changed) == 1  # exactly the bucket holding group 'b'
    assert set(unchanged) == set(buckets) - set(changed)
    assert _view_state(spark, part) == {"b": (3, 10.0)}


def test_crash_recovery_rename_aside(spark, tmp_path):
    """Every interruption point of the swap leaves a recoverable
    state: a lone old aside restores, stale temps drop, and the replay
    then folds the batch exactly once."""
    import os
    import shutil

    from dolphinbeat_spark.streaming.rollup import aside_paths

    path = str(tmp_path / "view")
    tmp, old = aside_paths(path)
    b0 = [_op("insert", 10, after={"id": 1, "grp": "a", "amount": 5})]
    b1 = [_op("insert", 20, after={"id": 2, "grp": "a", "amount": 2})]
    merge_agg_batch(_batch(spark, b0), path, VIEW, batch_id=0)

    # crash window: dir renamed aside, tmp (with marker) not yet in
    # place — the pre-fix rmtree+rename would have lost all state here
    os.rename(path, old)
    merge_agg_batch(_batch(spark, b1), path, VIEW, batch_id=1)
    assert _view_state(spark, path) == {"a": (2, 7.0)}  # nothing lost

    # crash window: stale uncommitted temp next to a live dir
    shutil.copytree(path, tmp)
    merge_agg_batch(_batch(spark, [
        _op("delete", 30, before={"id": 2, "grp": "a", "amount": 2}),
    ]), path, VIEW, batch_id=2)
    assert _view_state(spark, path) == {"a": (1, 5.0)}
    assert not os.path.exists(tmp) and not os.path.exists(old)


def test_partitioned_temp_dirs_invisible_and_bucket_pin(spark, tmp_path):
    """Leftover swap dirs inside the view root are '_'-prefixed so
    partition discovery never reads them as phantom buckets; merging
    with a different bucket count is refused loudly."""
    import os

    import pytest

    from dolphinbeat_spark.sinks.incremental_agg import merge_agg_batch_partitioned

    path = str(tmp_path / "view")
    merge_agg_batch_partitioned(_batch(spark, [
        _op("insert", 10, after={"id": 1, "grp": "a", "amount": 5}),
    ]), path, VIEW, batch_id=0, num_buckets=4)
    # plant a stale uncommitted temp: state must be unaffected
    bdir = next(d for d in os.listdir(path) if d.startswith("__bucket="))
    import shutil

    shutil.copytree(os.path.join(path, bdir), os.path.join(path, "_next.__bucket~9"))
    assert _view_state(spark, path) == {"a": (1, 5.0)}  # not double-read

    with pytest.raises(ValueError, match="num_buckets"):
        merge_agg_batch_partitioned(_batch(spark, [
            _op("insert", 20, after={"id": 2, "grp": "b", "amount": 1}),
        ]), path, VIEW, batch_id=1, num_buckets=8)


MM_VIEW = AggViewSpec(
    group_cols=("grp",), sum_cols=("amount",),
    min_cols=("amount",), max_cols=("amount",),
)


def _mm_state(spark, path):
    return {
        r["grp"]: (r["n_rows"], r["min_amount"], r["max_amount"])
        for r in read_agg_view(spark, path, MM_VIEW).collect()
    }


def _base(spark, rows):
    """Post-batch base table (grp, amount) the recompute reads."""
    return spark.createDataFrame(rows, "grp string, amount double")


def test_minmax_insert_only_folds_without_base_scan(spark, tmp_path):
    """Pure inserts fold min/max in place; the base recompute join
    receives zero groups (predicate never fires on insert-only)."""
    path = str(tmp_path / "view")
    merge_agg_batch(_batch(spark, [
        _op("insert", 1, after={"grp": "a", "amount": 5}),
        _op("insert", 2, after={"grp": "a", "amount": 9}),
        _op("insert", 3, after={"grp": "b", "amount": 2}),
    ]), path, MM_VIEW, batch_id=0, base=_base(spark, []))
    # empty base on purpose: a recompute would surface as NULL extrema
    assert _mm_state(spark, path) == {"a": (2, 5.0, 9.0), "b": (1, 2.0, 2.0)}
    # second batch improves extrema by insert only — still no recompute
    merge_agg_batch(_batch(spark, [
        _op("insert", 4, after={"grp": "a", "amount": 1}),
        _op("insert", 5, after={"grp": "a", "amount": 12}),
    ]), path, MM_VIEW, batch_id=1, base=_base(spark, []))
    assert _mm_state(spark, path) == {"a": (4, 1.0, 12.0), "b": (1, 2.0, 2.0)}


def test_minmax_retraction_of_extremum_recomputes_group(spark, tmp_path):
    path = str(tmp_path / "view")
    merge_agg_batch(_batch(spark, [
        _op("insert", 1, after={"grp": "a", "amount": 5}),
        _op("insert", 2, after={"grp": "a", "amount": 9}),
        _op("insert", 3, after={"grp": "a", "amount": 7}),
        _op("insert", 4, after={"grp": "b", "amount": 3}),
    ]), path, MM_VIEW, batch_id=0, base=_base(spark, []))
    # delete the current max (9): group a must recompute from base;
    # group b untouched (its state must NOT hit the base, which would
    # yield the poisoned value 999)
    merge_agg_batch(_batch(spark, [
        _op("delete", 5, before={"grp": "a", "amount": 9}),
    ]), path, MM_VIEW, batch_id=1,
        base=_base(spark, [("a", 5.0), ("a", 7.0), ("b", 999.0)]))
    assert _mm_state(spark, path) == {"a": (2, 5.0, 7.0), "b": (1, 3.0, 3.0)}


def test_minmax_non_extremum_delete_is_pure_delta(spark, tmp_path):
    path = str(tmp_path / "view")
    merge_agg_batch(_batch(spark, [
        _op("insert", 1, after={"grp": "a", "amount": 5}),
        _op("insert", 2, after={"grp": "a", "amount": 9}),
        _op("insert", 3, after={"grp": "a", "amount": 7}),
    ]), path, MM_VIEW, batch_id=0, base=_base(spark, []))
    # delete a middle value: min/max unaffected -> no recompute. The
    # poisoned base proves the group never touched it.
    merge_agg_batch(_batch(spark, [
        _op("delete", 4, before={"grp": "a", "amount": 7}),
    ]), path, MM_VIEW, batch_id=1, base=_base(spark, [("a", 999.0)]))
    assert _mm_state(spark, path) == {"a": (2, 5.0, 9.0)}


def test_minmax_same_batch_insert_covers_deleted_extremum(spark, tmp_path):
    """The exactness edge: stored min 5; one batch inserts 1 AND
    deletes 5. rmin(5) > candidate(1) -> no recompute needed, min=1."""
    path = str(tmp_path / "view")
    merge_agg_batch(_batch(spark, [
        _op("insert", 1, after={"grp": "a", "amount": 5}),
        _op("insert", 2, after={"grp": "a", "amount": 8}),
    ]), path, MM_VIEW, batch_id=0, base=_base(spark, []))
    merge_agg_batch(_batch(spark, [
        _op("insert", 3, after={"grp": "a", "amount": 1}),
        _op("delete", 4, before={"grp": "a", "amount": 5}),
    ]), path, MM_VIEW, batch_id=1, base=_base(spark, [("a", 999.0)]))
    st = _mm_state(spark, path)
    assert st["a"][0] == 2 and st["a"][1] == 1.0
    # max: deleting 5 < max 8 is not a retraction of the max either
    assert st["a"][2] == 8.0


def test_minmax_update_moving_extremum(spark, tmp_path):
    """An update is delete(before)+insert(after): moving the min UP
    forces recompute; duplicate extremum copies survive correctly."""
    path = str(tmp_path / "view")
    merge_agg_batch(_batch(spark, [
        _op("insert", 1, after={"grp": "a", "amount": 5}),
        _op("insert", 2, after={"grp": "a", "amount": 5}),
        _op("insert", 3, after={"grp": "a", "amount": 8}),
    ]), path, MM_VIEW, batch_id=0, base=_base(spark, []))
    # one of the two 5s moves to 10: min must STAY 5 (the other copy) —
    # multiplicity is unknowable from state, so this must recompute
    merge_agg_batch(_batch(spark, [
        _op("update", 4, before={"grp": "a", "amount": 5},
            after={"grp": "a", "amount": 10}),
    ]), path, MM_VIEW, batch_id=1,
        base=_base(spark, [("a", 5.0), ("a", 8.0), ("a", 10.0)]))
    assert _mm_state(spark, path) == {"a": (3, 5.0, 10.0)}


def test_minmax_requires_base(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="base"):
        merge_agg_batch(_batch(spark, [
            _op("insert", 1, after={"grp": "a", "amount": 5}),
        ]), str(tmp_path / "v"), MM_VIEW, batch_id=0)


def test_minmax_partitioned_parity(spark, tmp_path):
    """Bucket-partitioned merge with min/max: same final state as the
    flat merge, recompute confined to touched groups."""
    from dolphinbeat_spark.sinks.incremental_agg import merge_agg_batch_partitioned

    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    b0 = [
        _op("insert", i, after={"grp": f"g{i % 5}", "amount": i}) for i in range(1, 21)
    ]
    b1 = [
        _op("delete", 21, before={"grp": "g0", "amount": 20}),  # g0's max
        _op("insert", 22, after={"grp": "g1", "amount": 0}),    # new min
        _op("update", 23, before={"grp": "g2", "amount": 2},
            after={"grp": "g2", "amount": 3}),                  # min moves
    ]
    base1 = _base(spark, [("g0", float(a)) for a in (5, 10, 15)]
                  + [("g1", float(a)) for a in (0, 1, 6, 11, 16)]
                  + [("g2", float(a)) for a in (3, 7, 12, 17)]
                  + [("g3", float(a)) for a in (3, 8, 13, 18)]
                  + [("g4", float(a)) for a in (4, 9, 14, 19)])
    for path, fn in ((flat, merge_agg_batch),):
        fn(_batch(spark, b0), path, MM_VIEW, batch_id=0, base=_base(spark, []))
        fn(_batch(spark, b1), path, MM_VIEW, batch_id=1, base=base1)
    merge_agg_batch_partitioned(_batch(spark, b0), part, MM_VIEW, batch_id=0,
                                num_buckets=4, base=_base(spark, []))
    merge_agg_batch_partitioned(_batch(spark, b1), part, MM_VIEW, batch_id=1,
                                num_buckets=4, base=base1)
    assert _mm_state(spark, flat) == _mm_state(spark, part)
    st = _mm_state(spark, flat)
    assert st["g0"] == (3, 5.0, 15.0)
    assert st["g1"] == (5, 0.0, 16.0)
    assert st["g2"] == (4, 3.0, 17.0)


def test_minmax_replayed_batch_is_noop(spark, tmp_path):
    """Replay idempotence with min/max columns: re-merging a batch
    under its original batch_id hits the applied marker and must not
    re-fold deltas OR re-run the base recompute (a poisoned base on
    the replay call proves the recompute never executed)."""
    path = str(tmp_path / "view")
    b0 = [_op("insert", i, after={"grp": "a", "amount": i}) for i in (5, 9, 7)]
    b1 = [_op("delete", 10, before={"grp": "a", "amount": 9})]
    merge_agg_batch(_batch(spark, b0), path, MM_VIEW, batch_id=0, base=_base(spark, []))
    merge_agg_batch(_batch(spark, b1), path, MM_VIEW, batch_id=1,
                    base=_base(spark, [("a", 5.0), ("a", 7.0)]))
    want = _mm_state(spark, path)
    assert want == {"a": (2, 5.0, 7.0)}
    # replay batch 1 with a poisoned base: marker short-circuits
    merge_agg_batch(_batch(spark, b1), path, MM_VIEW, batch_id=1,
                    base=_base(spark, [("a", 999.0)]))
    assert _mm_state(spark, path) == want


def test_snapshot_and_agg_stream_lockstep(spark, tmp_path):
    """The composed sink under real streaming: two arrival waves of
    envelope ops maintain snapshot + min/max aggregate in lockstep —
    wave 2 deletes the group max, and the recompute base is the
    freshly-merged snapshot (not a caller-supplied frame)."""
    import json

    from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA
    from dolphinbeat_spark.sinks.apply_changes import read_snapshot
    from dolphinbeat_spark.sinks.incremental_agg import snapshot_and_agg_stream

    src = tmp_path / "ops"
    src.mkdir()

    def js(op):
        return json.dumps({k: v for k, v in op.items() if v is not None})

    wave1 = [
        _op("insert", 1, after={"id": 1, "grp": "a", "amount": 5}),
        _op("insert", 2, after={"id": 2, "grp": "a", "amount": 9}),
        _op("insert", 3, after={"id": 3, "grp": "a", "amount": 7}),
    ]
    (src / "w1.json").write_text("\n".join(js(o) for o in wave1))
    snap, view_path = str(tmp_path / "snap"), str(tmp_path / "view")
    view = AggViewSpec(group_cols=("grp",), sum_cols=("amount",),
                       min_cols=("amount",), max_cols=("amount",))

    def run_wave():
        stream = (
            spark.readStream.schema(ENVELOPE_SCHEMA)
            .option("maxFilesPerTrigger", "1").json(str(src))
        )
        q = (
            snapshot_and_agg_stream(
                stream, snap, view_path, str(tmp_path / "ckp"),
                key_cols=["id"], value_cols=["grp", "amount"], view=view,
                cast_cols={"amount": "double"},
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_wave()
    assert _mm_state(spark, view_path) == {"a": (3, 5.0, 9.0)}
    # wave 2: delete the max (9) — recompute must read the post-merge
    # snapshot, which no longer contains id=2
    (src / "w2.json").write_text(js(
        _op("delete", 4, before={"id": 2, "grp": "a", "amount": 9})))
    run_wave()
    assert _mm_state(spark, view_path) == {"a": (2, 5.0, 7.0)}
    snap_rows = {r["id"] for r in read_snapshot(spark, snap).collect()}
    assert snap_rows == {"1", "3"}


def test_distinct_maintenance_under_deletes(spark, tmp_path):
    """COUNT(DISTINCT) via the level-2 multiplicity view: a value
    leaves the distinct set only when its LAST copy retracts; NULLs
    never count; value-changing updates move multiplicity."""
    path = str(tmp_path / "dview")
    view = AggViewSpec(group_cols=("grp",), distinct_cols=("amount",))

    def state():
        return {
            r["grp"]: (r["n_rows"], r["distinct_amount"])
            for r in read_agg_view(spark, path, view).collect()
        }

    # two copies of 5, one 7, one NULL in group a
    merge_agg_batch(_batch(spark, [
        _op("insert", 10, after={"id": 1, "grp": "a", "amount": 5}),
        _op("insert", 20, after={"id": 2, "grp": "a", "amount": 5}),
        _op("insert", 30, after={"id": 3, "grp": "a", "amount": 7}),
        _op("insert", 40, after={"id": 4, "grp": "a", "amount": None}),
    ]), path, view, batch_id=0)
    assert state() == {"a": (4, 2)}  # {5, 7}; NULL not counted

    # delete ONE copy of 5 -> still distinct {5, 7}
    merge_agg_batch(_batch(spark, [
        _op("delete", 50, before={"id": 2, "grp": "a", "amount": 5}),
    ]), path, view, batch_id=1)
    assert state() == {"a": (3, 2)}

    # delete the LAST copy of 5 -> {7}; update NULL -> 9 adds a value
    merge_agg_batch(_batch(spark, [
        _op("delete", 60, before={"id": 1, "grp": "a", "amount": 5}),
        _op("update", 70,
            before={"id": 4, "grp": "a", "amount": None},
            after={"id": 4, "grp": "a", "amount": 9}),
    ]), path, view, batch_id=2)
    assert state() == {"a": (2, 2)}  # {7, 9}

    # replay batch 2: marker discipline covers the level-2 state too
    merge_agg_batch(_batch(spark, [
        _op("delete", 60, before={"id": 1, "grp": "a", "amount": 5}),
        _op("update", 70,
            before={"id": 4, "grp": "a", "amount": None},
            after={"id": 4, "grp": "a", "amount": 9}),
    ]), path, view, batch_id=2)
    assert state() == {"a": (2, 2)}

    # all-NULL group reads distinct 0, not NULL (SQL COUNT semantics)
    merge_agg_batch(_batch(spark, [
        _op("insert", 80, after={"id": 5, "grp": "z", "amount": None}),
    ]), path, view, batch_id=3)
    assert state()["z"] == (1, 0)


def test_avg_stddev_derived_from_moments(spark, tmp_path):
    """AVG/sample-STDDEV derive from the maintained sum/count/sumsq
    moments with SQL NULL semantics (AVG NULL on zero non-null values,
    STDDEV NULL below two)."""
    import math

    path = str(tmp_path / "aview")
    view = AggViewSpec(group_cols=("grp",), sum_cols=("amount",), avg_cols=("amount",))

    def state():
        return {
            r["grp"]: (r["n_rows"], r["sum_amount"], r["avg_amount"], r["std_amount"])
            for r in read_agg_view(spark, path, view).collect()
        }

    merge_agg_batch(_batch(spark, [
        _op("insert", 10, after={"id": 1, "grp": "a", "amount": 2}),
        _op("insert", 20, after={"id": 2, "grp": "a", "amount": 4}),
        _op("insert", 30, after={"id": 3, "grp": "a", "amount": 9}),
        _op("insert", 40, after={"id": 4, "grp": "b", "amount": 7}),
        _op("insert", 50, after={"id": 5, "grp": "c", "amount": None}),
    ]), path, view, batch_id=0)
    s = state()
    assert s["a"][1:3] == (15.0, 5.0)
    assert abs(s["a"][3] - math.sqrt(((4 + 16 + 81) - 15 * 15 / 3) / 2)) < 1e-12
    assert s["b"][2] == 7.0 and s["b"][3] is None  # single value: no stddev
    assert s["c"][2] is None and s["c"][3] is None  # all-NULL: AVG NULL

    # a retraction updates the moments exactly (delete the 9)
    merge_agg_batch(_batch(spark, [
        _op("delete", 60, before={"id": 3, "grp": "a", "amount": 9}),
    ]), path, view, batch_id=1)
    s = state()
    assert s["a"][1:3] == (6.0, 3.0)
    assert abs(s["a"][3] - math.sqrt(((4 + 16) - 36 / 2) / 1)) < 1e-12

    # equal values: cancellation guard keeps variance at exactly 0
    merge_agg_batch(_batch(spark, [
        _op("insert", 70, after={"id": 6, "grp": "e", "amount": 3}),
        _op("insert", 80, after={"id": 7, "grp": "e", "amount": 3}),
    ]), path, view, batch_id=2)
    assert state()["e"][3] == 0.0


def test_partitioned_distinct_touched_buckets(spark, tmp_path):
    """The bucket-partitioned merge maintains the level-2 distinct
    state with the same touched-bucket discipline (its own bucket
    layout over (group, value))."""
    from dolphinbeat_spark.sinks.incremental_agg import merge_agg_batch_partitioned

    path = str(tmp_path / "pview")
    view = AggViewSpec(group_cols=("grp",), sum_cols=("amount",),
                       distinct_cols=("amount",))
    merge_agg_batch_partitioned(_batch(spark, [
        _op("insert", 10, after={"id": 1, "grp": "a", "amount": 5}),
        _op("insert", 20, after={"id": 2, "grp": "a", "amount": 5}),
        _op("insert", 30, after={"id": 3, "grp": "b", "amount": 6}),
    ]), path, view, batch_id=0, num_buckets=4)
    merge_agg_batch_partitioned(_batch(spark, [
        _op("delete", 40, before={"id": 1, "grp": "a", "amount": 5}),
        _op("insert", 50, after={"id": 4, "grp": "a", "amount": 8}),
    ]), path, view, batch_id=1, num_buckets=4)
    got = {
        r["grp"]: (r["n_rows"], r["sum_amount"], r["distinct_amount"])
        for r in read_agg_view(spark, path, view).collect()
    }
    assert got == {"a": (2, 13.0, 2), "b": (1, 6.0, 1)}
