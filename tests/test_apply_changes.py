"""Apply-changes (CDC snapshot materialization) tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dolphinbeat_spark.sinks.apply_changes import (
    apply_batch,
    apply_changes_stream,
    last_op_per_key,
)
from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA, golden_sequences
from dolphinbeat_spark.sources.fixture_source import register_fixture_source


def _golden_df(spark):
    rows = [
        {k: v for k, v in op.items()}
        for op in golden_sequences()
    ]
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def _state(spark, path):
    return {
        r["id"]: r["name"]
        for r in spark.read.parquet(path).collect()
    }


def test_last_op_per_key_picks_terminal_op(spark):
    df = _golden_df(spark)
    winners = last_op_per_key(df, ["id"])
    got = {r["__k_id"]: r["op_type"] for r in winners.collect()}
    # id 1: insert then update -> update wins; id 2: insert then delete
    # -> delete wins; id 3: insert only
    assert got == {"1": "update", "2": "delete", "3": "insert"}


def test_apply_batch_materializes_final_state(spark, tmp_path):
    snap = str(tmp_path / "snap")
    apply_batch(spark, _golden_df(spark), snap, ["id"], ["name", "content"])
    assert _state(spark, snap) == {"1": "a2", "3": "c"}


def test_apply_batch_is_idempotent_and_incremental(spark, tmp_path):
    snap = str(tmp_path / "snap")
    df = _golden_df(spark)
    inserts = df.filter(F.col("op_type") == "insert")
    rest = df.filter(F.col("op_type") != "insert")
    apply_batch(spark, inserts, snap, ["id"], ["name", "content"])
    assert _state(spark, snap) == {"1": "a", "2": "b", "3": "c"}
    apply_batch(spark, rest, snap, ["id"], ["name", "content"])
    assert _state(spark, snap) == {"1": "a2", "3": "c"}
    # replaying the tail batch (checkpoint-replay after crash between
    # merge and commit) converges to the same state
    apply_batch(spark, rest, snap, ["id"], ["name", "content"])
    assert _state(spark, snap) == {"1": "a2", "3": "c"}


def test_apply_changes_streaming_end_to_end(spark, tmp_path):
    register_fixture_source(spark)
    stream = (
        spark.readStream.format("dolphinbeat_fixture")
        .option("batch_size", "3")
        .load()
    )
    snap = str(tmp_path / "snap")
    q = apply_changes_stream(
        stream, snap, str(tmp_path / "ckp"), ["id"], ["name", "content"]
    )
    q.awaitTermination(120)
    assert _state(spark, snap) == {"1": "a2", "3": "c"}


def test_pk_changing_update_removes_old_key(spark, tmp_path):
    """An update whose primary key CHANGES must delete the old-key row
    (MySQL ROW update events may rewrite the PK)."""
    from dolphinbeat_spark.envelope import empty_op

    snap = str(tmp_path / "snap")
    common = dict(server_id=1, log_name="binlog.000001", db="d", table="t", schema_version=1)
    b1 = spark.createDataFrame(
        [
            empty_op(op_type="insert", log_pos=100, after={"id": "1", "name": "a"},
                     after_null={"id": False, "name": False}, **common),
            empty_op(op_type="insert", log_pos=120, after={"id": "2", "name": "b"},
                     after_null={"id": False, "name": False}, **common),
        ],
        ENVELOPE_SCHEMA,
    )
    apply_batch(spark, b1, snap, ["id"], ["name"])
    assert _state(spark, snap) == {"1": "a", "2": "b"}
    # update 1 -> 9 (PK change) in a later batch
    b2 = spark.createDataFrame(
        [
            empty_op(op_type="update", log_pos=200,
                     before={"id": "1", "name": "a"}, before_null={"id": False, "name": False},
                     after={"id": "9", "name": "a9"}, after_null={"id": False, "name": False},
                     **common),
        ],
        ENVELOPE_SCHEMA,
    )
    apply_batch(spark, b2, snap, ["id"], ["name"])
    assert _state(spark, snap) == {"9": "a9", "2": "b"}
    # batch-internal chain: insert(5) then PK-change update 5 -> 6
    b3 = spark.createDataFrame(
        [
            empty_op(op_type="insert", log_pos=300, after={"id": "5", "name": "e"},
                     after_null={"id": False, "name": False}, **common),
            empty_op(op_type="update", log_pos=320,
                     before={"id": "5", "name": "e"}, before_null={"id": False, "name": False},
                     after={"id": "6", "name": "f"}, after_null={"id": False, "name": False},
                     **common),
        ],
        ENVELOPE_SCHEMA,
    )
    apply_batch(spark, b3, snap, ["id"], ["name"])
    assert _state(spark, snap) == {"9": "a9", "2": "b", "6": "f"}


def test_multirow_pk_shift_update_keeps_middle_keys(spark, tmp_path):
    """One multi-row UPDATE ... SET id=id+1 over {1,2}: both row images
    share log_pos (row_index 0 and 1). Row 0 inserts key 2, row 1
    deletes key 2 (its before image) — the insert must win
    (delete-then-insert replay order, __op_rank BEFORE row_index in
    the winner sort) or key 2 silently vanishes. Truth: {2, 3}."""
    from dolphinbeat_spark.envelope import empty_op

    snap = str(tmp_path / "snap")
    common = dict(server_id=1, log_name="binlog.000001", db="d", table="t",
                  schema_version=1)
    seed = spark.createDataFrame(
        [
            empty_op(op_type="insert", log_pos=100, after={"id": "1", "name": "a"},
                     after_null={"id": False, "name": False}, **common),
            empty_op(op_type="insert", log_pos=120, after={"id": "2", "name": "b"},
                     after_null={"id": False, "name": False}, **common),
        ],
        ENVELOPE_SCHEMA,
    )
    apply_batch(spark, seed, snap, ["id"], ["name"])
    shift = spark.createDataFrame(
        [
            empty_op(op_type="update", log_pos=200, row_index=0,
                     before={"id": "1", "name": "a"},
                     before_null={"id": False, "name": False},
                     after={"id": "2", "name": "a"},
                     after_null={"id": False, "name": False}, **common),
            empty_op(op_type="update", log_pos=200, row_index=1,
                     before={"id": "2", "name": "b"},
                     before_null={"id": False, "name": False},
                     after={"id": "3", "name": "b"},
                     after_null={"id": False, "name": False}, **common),
        ],
        ENVELOPE_SCHEMA,
    )
    apply_batch(spark, shift, snap, ["id"], ["name"])
    assert _state(spark, snap) == {"2": "a", "3": "b"}


def test_pk_changing_update_partitioned(spark, tmp_path):
    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sinks.apply_changes import (
        apply_batch_partitioned,
        read_snapshot,
    )

    snap = str(tmp_path / "snap")
    common = dict(server_id=1, log_name="binlog.000001", db="d", table="t", schema_version=1)
    b1 = spark.createDataFrame(
        [
            empty_op(op_type="insert", log_pos=100, after={"id": "1", "name": "a"},
                     after_null={"id": False, "name": False}, **common),
            empty_op(op_type="update", log_pos=200,
                     before={"id": "1", "name": "a"}, before_null={"id": False, "name": False},
                     after={"id": "2", "name": "a2"}, after_null={"id": False, "name": False},
                     **common),
        ],
        ENVELOPE_SCHEMA,
    )
    apply_batch_partitioned(spark, b1, snap, ["id"], ["name"], num_buckets=4)
    state = {r["id"]: r["name"] for r in read_snapshot(spark, snap).collect()}
    assert state == {"2": "a2"}


def test_snapshot_stores_null_not_empty_string(spark, tmp_path):
    """D12 contract: NULL wire-encodes as "" + null-flag; the snapshot
    must resolve it back to a real NULL (golden id=3's content)."""
    snap = str(tmp_path / "snap")
    apply_batch(spark, _golden_df(spark), snap, ["id"], ["name", "content"])
    rows = {r["id"]: r for r in spark.read.parquet(snap).collect()}
    assert rows["3"]["content"] is None  # flagged null, not ""
    assert rows["1"]["content"] == ""  # genuinely empty string survives


def test_scd2_history(spark):
    from dolphinbeat_spark.sinks.apply_changes import scd2_history

    hist = scd2_history(_golden_df(spark), ["id"], ["name"]).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["id"], []).append(
            (r["name"], r["valid_from_pos"], r["valid_to_pos"], r["is_current"])
        )
        by_key[r["id"]].sort(key=lambda t: t[1])
    # id 1: insert(a)@140 superseded by update(a2)@240 twice (retry) —
    # the retry creates a zero-width [240,240) version then the real one
    assert by_key["1"][0] == ("a", 140, 240, False)
    assert by_key["1"][-1][0] == "a2" and by_key["1"][-1][3] is True
    # id 2: insert(b)@160 closed by delete@300, no current version
    assert by_key["2"] == [("b", 160, 300, False)]
    # id 3: insert(c)@180 still current
    assert by_key["3"] == [("c", 180, None, True)]


def test_apply_batch_partitioned_touches_only_dirty_buckets(spark, tmp_path):
    import os as _os

    from dolphinbeat_spark.sinks.apply_changes import (
        apply_batch_partitioned,
        read_snapshot,
    )

    snap = str(tmp_path / "snap_part")
    df = _golden_df(spark)
    inserts = df.filter(F.col("op_type") == "insert")
    rest = df.filter(F.col("op_type") != "insert")
    apply_batch_partitioned(spark, inserts, snap, ["id"], ["name"], num_buckets=8)
    state = {r["id"]: r["name"] for r in read_snapshot(spark, snap).collect()}
    assert state == {"1": "a", "2": "b", "3": "c"}

    def dir_mtimes():
        out = {}
        for d in _os.listdir(snap):
            if d.startswith("__bucket="):
                p = _os.path.join(snap, d)
                out[d] = max(
                    _os.path.getmtime(_os.path.join(p, f)) for f in _os.listdir(p)
                )
        return out

    before = dir_mtimes()
    import time as _t

    _t.sleep(1.1)  # mtime resolution guard
    apply_batch_partitioned(spark, rest, snap, ["id"], ["name"], num_buckets=8)
    after = dir_mtimes()
    state = {r["id"]: r["name"] for r in read_snapshot(spark, snap).collect()}
    assert state == {"1": "a2", "3": "c"}
    # update touched id=1's bucket (rewritten), delete emptied id=2's
    # bucket (dir removed); every other bucket's files are untouched
    changed = {
        d for d in before if d not in after or after[d] > before[d]
    }
    assert len(changed) <= 2, f"too many buckets rewritten: {changed}"
    untouched = set(before) - changed
    assert untouched, "expected at least one cold bucket"
    for d in untouched:
        assert after[d] == before[d]
    # replay converges (idempotent)
    apply_batch_partitioned(spark, rest, snap, ["id"], ["name"], num_buckets=8)
    state = {r["id"]: r["name"] for r in read_snapshot(spark, snap).collect()}
    assert state == {"1": "a2", "3": "c"}


def test_randomized_sequences_match_dict_replay(spark, tmp_path):
    """Randomized equivalence: 20 seeded scenarios of interleaved
    insert/update(±PK change)/delete ops reduce — through
    normalize_pk_changes + last_op_per_key + the upsert projection —
    to exactly the state a sequential dict replay produces. One Spark
    job covers all scenarios (scenario id rides inside the key)."""
    import random

    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sinks.apply_changes import apply_batch, read_snapshot

    rng = random.Random(20240813)
    ops: list[dict] = []
    expected: dict[str, str] = {}  # key -> value (final state)
    state: dict[int, dict[str, str]] = {}
    pos = 0
    for s in range(20):
        st = state.setdefault(s, {})
        for _ in range(30):
            pos += 20
            k = f"{s}:{rng.randrange(5)}"
            kind = rng.choice(["insert", "update", "update_pk", "delete"])
            v = f"v{pos}"
            common = dict(
                log_name="binlog.000001", log_pos=pos, server_id=1, timestamp=0,
                db="d", table="t", schema_version=1,
            )
            if kind == "insert":
                st[k] = v
                ops.append(empty_op(
                    op_type="insert",
                    after={"k": k, "v": v}, after_null={"k": False, "v": False},
                    **common,
                ))
            elif kind == "delete":
                st.pop(k, None)
                ops.append(empty_op(
                    op_type="delete",
                    before={"k": k, "v": v}, before_null={"k": False, "v": False},
                    **common,
                ))
            else:
                k2 = f"{s}:{rng.randrange(5)}" if kind == "update_pk" else k
                st.pop(k, None)
                st[k2] = v
                ops.append(empty_op(
                    op_type="update",
                    before={"k": k, "v": "old"}, before_null={"k": False, "v": False},
                    after={"k": k2, "v": v}, after_null={"k": False, "v": False},
                    **common,
                ))
        expected.update(st)

    batch = spark.createDataFrame(ops, ENVELOPE_SCHEMA)
    snap = str(tmp_path / "rand_snapshot")
    apply_batch(spark, batch, snap, key_cols=["k"], value_cols=["v"])
    got = {r["k"]: r["v"] for r in read_snapshot(spark, snap).collect()}
    assert got == expected


# --- partial-JSON materialization (WL#10570 consumer side) ------------------


def test_json_patch_path_and_apply_unit():
    from dolphinbeat_spark.operators.json_patch import (
        apply_diffs,
        fold_json_values,
        parse_path,
    )

    assert parse_path("$") == []
    assert parse_path("$.a.b") == ["a", "b"]
    assert parse_path('$.a[3].c') == ["a", 3, "c"]
    assert parse_path('$."quoted key"[0]') == ["quoted key", 0]

    doc = {"a": 1, "arr": [1, 2, 3], "keep": True}
    out = apply_diffs(doc, [
        {"op": "replace", "path": "$.a", "value": 5},
        {"op": "insert", "path": "$.b", "value": "new"},
        {"op": "remove", "path": "$.arr[0]"},
        {"op": "insert", "path": "$.arr[1]", "value": 99},
        {"op": "replace", "path": "$.missing.deep", "value": 1},  # no-op
    ])
    assert out == {"a": 5, "b": "new", "arr": [2, 99, 3], "keep": True}
    # whole-document replace; insert does not overwrite (JSON_INSERT)
    assert apply_diffs({"x": 1}, [{"op": "replace", "path": "$", "value": [1]}]) == [1]
    assert apply_diffs({"x": 1}, [{"op": "insert", "path": "$.x", "value": 2}]) == {"x": 1}

    # fold: full value overwrites, diffs chain in order
    got = fold_json_values(None, [
        '{"a":1}',
        '{"$json_diff":[{"op":"insert","path":"$.b","value":2}]}',
        '{"$json_diff":[{"op":"replace","path":"$.b","value":3}]}',
    ])
    assert got == '{"a":1,"b":3}'


def test_apply_batch_materializes_partial_json(spark, tmp_path):
    """The PARTIAL_JSON consumer contract: a snapshot maintained with
    patch_json_cols stores materialized documents — including a diff
    CHAINING on an earlier diff inside the same batch, which plain
    last-op-wins cannot express."""
    import json

    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sinks.apply_changes import read_snapshot

    def op(op_type, pos, before=None, after=None):
        def img(d):
            if d is None:
                return None, None
            return (
                {k: ("" if v is None else v) for k, v in d.items()},
                {k: v is None for k, v in d.items()},
            )

        b, bn = img(before)
        a, an = img(after)
        return empty_op(op_type=op_type, log_name="b.1", log_pos=pos, row_index=0,
                        db="d", table="t", before=b, before_null=bn,
                        after=a, after_null=an)

    snap = str(tmp_path / "snap")
    d0 = '{"a":1,"arr":[1,2]}'
    diff1 = '{"$json_diff":[{"op":"replace","path":"$.a","value":5},{"op":"insert","path":"$.b","value":"x"}]}'
    diff2 = '{"$json_diff":[{"op":"remove","path":"$.arr[0]"},{"op":"replace","path":"$.b","value":"y"}]}'

    # batch 1: full insert
    b1 = spark.createDataFrame([op("insert", 10, after={"id": "1", "doc": d0})],
                               ENVELOPE_SCHEMA)
    apply_batch(spark, b1, snap, ["id"], ["doc"], patch_json_cols=("doc",))
    # batch 2: TWO chained diff updates in one batch
    b2 = spark.createDataFrame([
        op("update", 20, before={"id": "1", "doc": d0},
           after={"id": "1", "doc": diff1}),
        op("update", 30, before={"id": "1", "doc": diff1},
           after={"id": "1", "doc": diff2}),
    ], ENVELOPE_SCHEMA)
    apply_batch(spark, b2, snap, ["id"], ["doc"], patch_json_cols=("doc",))
    got = {r["id"]: r["doc"] for r in read_snapshot(spark, snap).collect()}
    assert json.loads(got["1"]) == {"a": 5, "arr": [2], "b": "y"}

    # batch 3: a later FULL value overwrites any patch history; a row
    # without diffs is untouched by the patch path
    b3 = spark.createDataFrame([
        op("update", 40, before={"id": "1", "doc": got["1"]},
           after={"id": "1", "doc": '{"z":0}'}),
        op("insert", 50, after={"id": "2", "doc": '{"w":1}'}),
    ], ENVELOPE_SCHEMA)
    apply_batch(spark, b3, snap, ["id"], ["doc"], patch_json_cols=("doc",))
    got = {r["id"]: r["doc"] for r in read_snapshot(spark, snap).collect()}
    assert got == {"1": '{"z":0}', "2": '{"w":1}'}


def test_apply_batch_partitioned_materializes_partial_json(spark, tmp_path):
    """The bucket-partitioned merge folds partial-JSON diffs too, with
    the old-value side read only from touched buckets."""
    import json

    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sinks.apply_changes import (
        apply_batch_partitioned,
        read_snapshot,
    )

    def op(op_type, pos, before=None, after=None):
        def img(d):
            if d is None:
                return None, None
            return ({k: str(v) for k, v in d.items()},
                    {k: False for k in d})

        b, bn = img(before)
        a, an = img(after)
        return empty_op(op_type=op_type, log_name="b.1", log_pos=pos, row_index=0,
                        db="d", table="t", before=b, before_null=bn,
                        after=a, after_null=an)

    snap = str(tmp_path / "psnap")
    b1 = spark.createDataFrame([
        op("insert", 10, after={"id": "1", "doc": '{"a":1}'}),
        op("insert", 11, after={"id": "2", "doc": '{"z":9}'}),
    ], ENVELOPE_SCHEMA)
    apply_batch_partitioned(spark, b1, snap, ["id"], ["doc"],
                            num_buckets=4, patch_json_cols=("doc",))
    b2 = spark.createDataFrame([
        op("update", 20, before={"id": "1", "doc": '{"a":1}'},
           after={"id": "1",
                  "doc": '{"$json_diff":[{"op":"replace","path":"$.a","value":7}]}'}),
    ], ENVELOPE_SCHEMA)
    apply_batch_partitioned(spark, b2, snap, ["id"], ["doc"],
                            num_buckets=4, patch_json_cols=("doc",))
    got = {r["id"]: r["doc"] for r in read_snapshot(spark, snap).collect()}
    assert json.loads(got["1"]) == {"a": 7}
    assert json.loads(got["2"]) == {"z": 9}  # untouched bucket intact


def test_fold_diff_against_missing_base_raises():
    """A partial-JSON diff applied to a key with NO current snapshot
    value violates the replica contract (the server only emits diffs
    when the row existed) — fail loud, never materialize null
    (ADVICE r7)."""
    import pytest

    from dolphinbeat_spark.operators.json_patch import fold_json_values

    diff = '{"$json_diff":[{"op":"replace","path":"$.a","value":1}]}'
    with pytest.raises(ValueError, match="missing base"):
        fold_json_values(None, [diff])
    with pytest.raises(ValueError, match="missing base"):
        fold_json_values("", [diff])
    # a full doc arriving first is fine, diff chains on it
    assert fold_json_values(None, ['{"a":0}', diff]) == '{"a":1}'


def test_patch_materialization_without_row_index_column(spark):
    """_materialize_json_patches must apply the same presence guard as
    last_op_per_key: an envelope batch lacking row_index/__op_rank
    (e.g. a pre-normalized upsert feed) still analyzes (ADVICE r7)."""
    import json

    from dolphinbeat_spark.envelope import empty_op
    from dolphinbeat_spark.sinks.apply_changes import (
        _materialize_json_patches,
        read_snapshot,
    )

    def op(op_type, pos, after):
        vals = {k: ("" if v is None else v) for k, v in after.items()}
        nulls = {k: v is None for k, v in after.items()}
        return empty_op(op_type=op_type, log_name="b.1", log_pos=pos,
                        row_index=0, db="d", table="t",
                        after=vals, after_null=nulls)

    d0 = '{"a":1}'
    diff = '{"$json_diff":[{"op":"replace","path":"$.a","value":2}]}'
    batch = spark.createDataFrame(
        [op("insert", 10, {"id": "1", "doc": d0}),
         op("insert", 20, {"id": "1", "doc": diff})],
        ENVELOPE_SCHEMA,
    ).drop("row_index")  # no row_index, no __op_rank
    upserts = spark.createDataFrame([("1", diff)], "id string, doc string")
    out = _materialize_json_patches(batch, upserts, ["id"], ("doc",), None)
    got = {r["id"]: r["doc"] for r in out.collect()}
    assert json.loads(got["1"]) == {"a": 2}


# ---------------------------------------------------------------------------
# row_image="minimal" (binlog_row_image=MINIMAL/NOBLOB feeds) + FULL guard


_ENV_COLS = (
    "op_type string, log_name string, log_pos long, "
    "before map<string,string>, before_null map<string,boolean>, "
    "after map<string,string>, after_null map<string,boolean>"
)


def _mrow(op, pos, before=None, after=None, anull=None):
    bnull = {k: False for k in before} if before else None
    if after is not None and anull is None:
        anull = {k: False for k in after}
    return (op, "b.000001", pos, before, bnull, after, anull)


def _mdf(spark, rows):
    return spark.createDataFrame(rows, _ENV_COLS)


def test_full_mode_guard_raises_on_partial_after_image(spark, tmp_path):
    from dolphinbeat_spark.sinks.apply_changes import PartialRowImageError
    import pytest

    batch = _mdf(spark, [
        _mrow("insert", 1, after={"id": "1", "name": "n", "bal": "2"}),
        _mrow("update", 2, before={"id": "1"}, after={"id": "1", "bal": "3"}),
    ])
    with pytest.raises(PartialRowImageError, match="name"):
        apply_batch(spark, batch, str(tmp_path / "s"), ["id"], ["name", "bal"])


def test_full_mode_guard_raises_on_null_after_map(spark, tmp_path):
    """An upsert winner whose entire after map is NULL must fail the
    FULL-mode gate (map_contains_key(NULL, c) is NULL, which the
    filter lambda would silently drop — every value column would be
    written as NULL), not slip through."""
    from dolphinbeat_spark.sinks.apply_changes import PartialRowImageError
    import pytest

    batch = _mdf(spark, [
        ("insert", "b.000001", 1, None, None, None, None),
    ])
    with pytest.raises(PartialRowImageError, match="name"):
        apply_batch(spark, batch, str(tmp_path / "s"), ["id"], ["name", "bal"])


def test_full_mode_guard_accepts_present_and_null(spark, tmp_path):
    # NULL stays IN the map ("" + null flag) — distinct from absent;
    # the guard must not confuse the two
    batch = _mdf(spark, [
        _mrow("insert", 1, after={"id": "1", "name": "", "bal": "2"},
              anull={"id": False, "name": True, "bal": False}),
    ])
    snap = str(tmp_path / "s")
    apply_batch(spark, batch, snap, ["id"], ["name", "bal"])
    row = spark.read.parquet(snap).collect()[0]
    assert row["name"] is None and row["bal"] == "2"


def test_minimal_mode_coalesces_absent_columns_across_batches(spark, tmp_path):
    snap = str(tmp_path / "s")
    b1 = _mdf(spark, [
        _mrow("insert", 1, after={"id": "1", "name": "alice", "bal": "10"}),
    ])
    # MINIMAL update: after omits the unchanged PK AND name
    b2 = _mdf(spark, [
        _mrow("update", 2, before={"id": "1"}, after={"bal": "99"}),
    ])
    apply_batch(spark, b1, snap, ["id"], ["name", "bal"], row_image="minimal")
    apply_batch(spark, b2, snap, ["id"], ["name", "bal"], row_image="minimal")
    row = spark.read.parquet(snap).collect()[0]
    assert (row["id"], row["name"], row["bal"]) == ("1", "alice", "99")


def test_minimal_mode_in_batch_fold_last_carrier_wins(spark, tmp_path):
    snap = str(tmp_path / "s")
    batch = _mdf(spark, [
        _mrow("insert", 1, after={"id": "1", "name": "a", "bal": "1"}),
        _mrow("update", 2, before={"id": "1"}, after={"bal": "2"}),
        _mrow("update", 3, before={"id": "1"}, after={"name": "z"}),
    ])
    apply_batch(spark, batch, snap, ["id"], ["name", "bal"], row_image="minimal")
    row = spark.read.parquet(snap).collect()[0]
    # name from op 3, bal from op 2, both surviving the per-column fold
    assert (row["name"], row["bal"]) == ("z", "2")


def test_minimal_mode_pk_change_pulls_from_origin_row(spark, tmp_path):
    snap = str(tmp_path / "s")
    b1 = _mdf(spark, [
        _mrow("insert", 1, after={"id": "2", "name": "bob", "bal": "5"}),
    ])
    # PK-changing MINIMAL update 2 -> 7: after carries only the new PK;
    # name/bal must come from the OLD key's snapshot row
    b2 = _mdf(spark, [
        _mrow("update", 2, before={"id": "2"}, after={"id": "7"}),
    ])
    apply_batch(spark, b1, snap, ["id"], ["name", "bal"], row_image="minimal")
    apply_batch(spark, b2, snap, ["id"], ["name", "bal"], row_image="minimal")
    got = {r["id"]: (r["name"], r["bal"]) for r in spark.read.parquet(snap).collect()}
    assert got == {"7": ("bob", "5")}


def test_minimal_mode_carried_null_is_not_coalesced(spark, tmp_path):
    snap = str(tmp_path / "s")
    b1 = _mdf(spark, [
        _mrow("insert", 1, after={"id": "1", "name": "a", "bal": "1"}),
    ])
    # update carries name present-and-NULL: must store NULL, not the
    # old snapshot value
    b2 = _mdf(spark, [
        _mrow("update", 2, before={"id": "1"}, after={"name": ""},
              anull={"name": True}),
    ])
    apply_batch(spark, b1, snap, ["id"], ["name", "bal"], row_image="minimal")
    apply_batch(spark, b2, snap, ["id"], ["name", "bal"], row_image="minimal")
    row = spark.read.parquet(snap).collect()[0]
    assert row["name"] is None and row["bal"] == "1"


def test_minimal_mode_partitioned_matches_flat(spark, tmp_path):
    from dolphinbeat_spark.sinks.apply_changes import (
        apply_batch_partitioned,
        read_snapshot,
    )

    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    batches = [
        _mdf(spark, [
            _mrow("insert", 1, after={"id": "1", "name": "a", "bal": "1"}),
            _mrow("insert", 2, after={"id": "2", "name": "b", "bal": "2"}),
        ]),
        _mdf(spark, [
            _mrow("update", 3, before={"id": "1"}, after={"bal": "9"}),
            _mrow("update", 4, before={"id": "2"}, after={"id": "5"}),
            _mrow("delete", 5, before={"id": "1"}),
        ]),
    ]
    for b in batches:
        apply_batch(spark, b, flat, ["id"], ["name", "bal"], row_image="minimal")
        apply_batch_partitioned(spark, b, part, ["id"], ["name", "bal"],
                                num_buckets=4, row_image="minimal")
    f = {tuple(r) for r in read_snapshot(spark, flat).collect()}
    p = {tuple(r) for r in read_snapshot(spark, part).collect()}
    assert f == p == {("5", "b", "2")}


def test_minimal_mode_rejects_patch_json_cols(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="PARTIAL_JSON"):
        apply_batch(spark, _mdf(spark, []), str(tmp_path / "s"), ["id"],
                    ["doc"], patch_json_cols=("doc",), row_image="minimal")


# ---------------------------------------------------------------------------
# commit protocol: crash mid-commit and replay of a committed batch


def test_crash_after_old_snapshot_moved_then_replay_keeps_rows(
    spark, tmp_path, monkeypatch
):
    """The commit's final rename fails after the committed snapshot has
    left its path; replaying the batch must still see the earlier
    batch's rows (an rmtree-then-rename commit lost them: only the
    replayed batch's row survived)."""
    import os

    snap = str(tmp_path / "s")
    apply_batch(spark, _mdf(spark, [
        _mrow("insert", 1, after={"id": "1", "name": "a"}),
        _mrow("insert", 2, after={"id": "2", "name": "b"}),
    ]), snap, ["id"], ["name"])
    b1 = _mdf(spark, [_mrow("insert", 3, after={"id": "3", "name": "c"})])
    real_rename, crashed = os.rename, []

    def rename(src, dst):
        if os.path.normpath(dst) == os.path.normpath(snap) and not crashed:
            crashed.append(src)
            raise OSError("crash before the new snapshot lands")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="crash"):
        apply_batch(spark, b1, snap, ["id"], ["name"])
    monkeypatch.undo()
    apply_batch(spark, b1, snap, ["id"], ["name"])
    assert _state(spark, snap) == {"1": "a", "2": "b", "3": "c"}


def _apply_flat_or_partitioned(spark, layout, batch, snap, value_cols, **kw):
    from dolphinbeat_spark.sinks.apply_changes import apply_batch_partitioned

    if layout == "flat":
        apply_batch(spark, batch, snap, ["id"], value_cols, **kw)
    else:
        apply_batch_partitioned(spark, batch, snap, ["id"], value_cols,
                                num_buckets=4, **kw)


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_replayed_minimal_key_change_is_noop(spark, tmp_path, layout):
    """Re-applying a committed MINIMAL key change 2 -> 7 would pull the
    moved row's columns from the now-deleted origin key (NULLs); the
    replayed batch id must skip instead."""
    from dolphinbeat_spark.sinks.apply_changes import read_snapshot

    snap = str(tmp_path / "s")
    b0 = _mdf(spark, [
        _mrow("insert", 1, after={"id": "2", "name": "bob", "bal": "5"}),
    ])
    b1 = _mdf(spark, [_mrow("update", 2, before={"id": "2"}, after={"id": "7"})])
    for batch_id, b in [(0, b0), (1, b1), (1, b1)]:
        _apply_flat_or_partitioned(spark, layout, b, snap, ["name", "bal"],
                                   row_image="minimal", batch_id=batch_id)
    got = {r["id"]: (r["name"], r["bal"]) for r in read_snapshot(spark, snap).collect()}
    assert got == {"7": ("bob", "5")}


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_replayed_partial_json_diff_is_noop(spark, tmp_path, layout):
    """Re-applying a committed ``remove $.arr[0]`` diff to its own
    output would remove a second element; the replayed batch id must
    skip instead."""
    import json

    from dolphinbeat_spark.sinks.apply_changes import read_snapshot

    snap = str(tmp_path / "s")
    b0 = _mdf(spark, [_mrow("insert", 1, after={"id": "1", "doc": '{"arr":[1,2,3]}'})])
    b1 = _mdf(spark, [_mrow(
        "update", 2, before={"id": "1", "doc": '{"arr":[1,2,3]}'},
        after={"id": "1",
               "doc": '{"$json_diff":[{"op":"remove","path":"$.arr[0]"}]}'},
    )])
    for batch_id, b in [(0, b0), (1, b1), (1, b1)]:
        _apply_flat_or_partitioned(spark, layout, b, snap, ["doc"],
                                   patch_json_cols=("doc",), batch_id=batch_id)
    got = {r["id"]: json.loads(r["doc"]) for r in read_snapshot(spark, snap).collect()}
    assert got == {"1": {"arr": [2, 3]}}


def test_update_split_rejects_reserved_column_names(spark):
    """A batch already carrying the update split's working columns
    raises by name instead of being silently shadowed."""
    from dolphinbeat_spark.sinks.apply_changes import normalize_pk_changes

    batch = _mdf(spark, [_mrow("insert", 1, after={"id": "1", "name": "a"})])
    for c in ("__pieces", "__p"):
        with pytest.raises(ValueError, match=f"'{c}'"):
            normalize_pk_changes(batch.withColumn(c, F.lit(1)))
