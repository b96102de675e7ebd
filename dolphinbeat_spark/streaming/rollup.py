"""Continuous aggregate: incrementally-maintained time rollup.

The streaming face of operators/rollups.py — each micro-batch's
partial aggregates merge into a persistent rollup table keyed by
(bucket, group). Re-aggregability (sum-of-sums/counts, proven by
tests/test_rollups.py) makes the merge exact; an ADDITIVE merge
would double-count a replayed batch, so replay protection is
explicit: per-batch marker files (the same discipline as the ordered
sinks' ``_seq_meta``) skip already-applied batch ids.

:func:`merge_commit` here is the one crash-safe commit of every
stateful parquet directory — the rollups, the apply-changes snapshots
and the incremental aggregate views all commit through it.

At 100 TB: a batch touches only the buckets its events fall in;
storage-side this pairs with a bucket-partitioned rollup table
(apply_batch_partitioned's layout) so cold time ranges never rewrite.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def applied_marker(batch_id: int | None) -> str | None:
    """The replay marker :func:`merge_commit` stamps for a foreachBatch
    id (``None``: an unmarked, always-applied merge)."""
    return f"_applied_{batch_id}" if batch_id is not None else None


def _batch_counts(batch: DataFrame, ts_col: str, group_cols: list[str],
                  grain: str) -> DataFrame:
    return batch.groupBy(
        F.date_trunc(grain, ts_col).alias("bucket_start"), *group_cols
    ).agg(F.count(F.lit(1)).alias("n_events"))


def _fold_counts(part: DataFrame, keys: list[str]):
    """merge_commit callback: the committed counts plus this batch's."""

    def merge(current: DataFrame | None) -> DataFrame:
        if current is None:
            return part
        return (
            current.unionByName(part)
            .groupBy(*keys)
            .agg(F.sum("n_events").alias("n_events"))
        )

    return merge


def merge_rollup_batch(
    batch: DataFrame,
    rollup_path: str,
    ts_col: str,
    group_cols: list[str],
    grain: str = "minute",
    batch_id: int | None = None,
) -> None:
    """Merge one batch's counts into the persistent rollup parquet.
    ``batch_id`` (when given) makes the merge replay-idempotent via an
    applied-marker file INSIDE the rollup directory (see
    :func:`merge_commit`)."""
    part = _batch_counts(batch, ts_col, group_cols, grain)
    merge_commit(
        batch.sparkSession, rollup_path, applied_marker(batch_id),
        _fold_counts(part, ["bucket_start", *group_cols]),
    )


#: retained replay markers per rollup dir. Structured Streaming only
#: ever replays the last uncommitted batch, so a bounded tail of
#: markers suffices and the dir stays O(1) over a long-running stream.
MARKER_RETENTION = 100


def _carry_markers(src_dir: str, dst_dir: str) -> None:
    ids = sorted(
        int(f[len("_applied_"):])
        for f in os.listdir(src_dir)
        if f.startswith("_applied_") and f[len("_applied_"):].isdigit()
    )
    for i in ids[-MARKER_RETENTION:]:
        open(os.path.join(dst_dir, f"_applied_{i}"), "w").close()


def merge_commit(
    spark: SparkSession,
    dir_path: str,
    marker: str | None,
    merge: Callable[[DataFrame | None], DataFrame],
) -> None:
    """The one commit protocol of every stateful parquet directory
    (snapshots, rollups, aggregate views, and each bucket or partition
    of their partitioned forms):

    1. roll back an interrupted swap (:func:`recover_swap_dir`);
    2. return if ``dir_path`` already holds ``marker`` — a replay of a
       committed batch is a no-op, which a non-idempotent merge (an
       additive fold, a MINIMAL key change, a JSON diff) needs;
    3. build ``merge(current)``, ``current`` being the committed state
       (``None`` before the first commit);
    4. write it to the aside temp dir with the carried replay markers
       and ``marker`` — data and marker commit in one rename, so no
       crash lands between "data swapped" and "marker written";
    5. RENAME-ASIDE: ``dir`` → old, temp → ``dir``, drop old.

    Every crash point leaves ``dir`` or the old aside holding the last
    committed state, and the next call's step 1 restores it; unlike
    rmtree-then-rename, the only copy of the prior state never lives
    in an uncommitted temp. Spark's parquet reader ignores the
    ``_``-prefixed marker files (same convention as ``_SUCCESS``)."""
    tmp_path, old_path = aside_paths(dir_path)
    recover_swap_dir(dir_path)
    if marker and os.path.exists(os.path.join(dir_path, marker)):
        return
    committed = os.path.exists(dir_path)
    current = spark.read.parquet(dir_path) if committed else None
    merge(current).write.mode("overwrite").parquet(tmp_path)
    if committed:
        _carry_markers(dir_path, tmp_path)
    if marker:
        open(os.path.join(tmp_path, marker), "w").close()
    if committed:
        os.rename(dir_path, old_path)
    os.rename(tmp_path, dir_path)
    if committed:
        shutil.rmtree(old_path)


def aside_paths(dir_path: str) -> tuple[str, str]:
    """(temp, old) aside dirs of ``dir_path``'s commit: ``_next.<name>``
    and ``_old.<name>`` siblings, '_'-prefixed so parquet discovery of
    a partitioned root ignores them, and with '=' encoded away because
    a 'key=value' shape overrides the underscore rule and would be
    inferred as a conflicting partition column. :func:`swap_live_name`
    maps back."""
    root, name = os.path.split(os.path.normpath(dir_path))
    enc = name.replace("=", "~")
    return os.path.join(root, "_next." + enc), os.path.join(root, "_old." + enc)


def swap_live_name(aside_entry: str) -> str:
    """Inverse of the aside encoding: '_next.part~X' → 'part=X'."""
    for prefix in ("_next.", "_old."):
        if aside_entry.startswith(prefix):
            return aside_entry[len(prefix):].replace("~", "=")
    raise ValueError(f"not an aside dir name: {aside_entry}")


def sweep_interrupted_swaps(root: str) -> None:
    """Recover EVERY interrupted swap under ``root`` — not just the
    dirs the current batch touches: a '_old.<name>' left by a crash
    holds the only committed copy of its partition and is invisible to
    parquet discovery until restored."""
    if not os.path.isdir(root):
        return
    for entry in os.listdir(root):
        if entry.startswith(("_old.", "_next.")):
            recover_swap_dir(os.path.join(root, swap_live_name(entry)))


def recover_swap_dir(dir_path: str) -> None:
    """Roll an interrupted :func:`merge_commit` back to its last
    committed state: a lone old aside is the committed state (restore
    it); a leftover temp is uncommitted (drop it)."""
    tmp_path, old_path = aside_paths(dir_path)
    if not os.path.exists(dir_path) and os.path.exists(old_path):
        os.rename(old_path, dir_path)
    elif os.path.exists(old_path):
        shutil.rmtree(old_path)
    if os.path.exists(tmp_path):
        shutil.rmtree(tmp_path)


def merge_rollup_batch_partitioned(
    batch: DataFrame,
    rollup_path: str,
    ts_col: str,
    group_cols: list[str],
    grain: str = "minute",
    batch_id: int | None = None,
    partition_grain: str = "day",
) -> None:
    """Time-partitioned continuous aggregate: the rollup table is laid
    out as one directory per ``partition_grain`` bucket and a batch
    merges ONLY the partitions its events fall in — per-batch cost is
    O(touched time range), never O(rollup), which is the shape that
    survives a 100 TB history (a streaming batch touches "now", cold
    months never open).

    Each touched partition commits through :func:`merge_commit` with
    its own in-dir replay marker: a crash between two partition swaps
    replays the batch, the swapped partitions skip on their marker,
    the unswapped redo from their old (marker-less) state. Exactly-once
    per partition, no double counts.

    The driver loops over touched partitions (one small Spark job
    each); typical streaming batches touch 1-2 partitions, so the loop
    is short — bulk backfills should use operators/rollups.py batch
    aggregation instead."""
    part = _batch_counts(batch, ts_col, group_cols, grain).withColumn(
        "__part",
        F.date_format(F.date_trunc(partition_grain, "bucket_start"), "yyyy-MM-dd"),
    ).localCheckpoint(eager=True)  # batch partials computed once, reused per partition
    keys = ["bucket_start", *group_cols]
    touched = [r["__part"] for r in part.select("__part").distinct().collect()]
    os.makedirs(rollup_path, exist_ok=True)
    sweep_interrupted_swaps(rollup_path)
    for p in sorted(touched):
        mine = part.filter(F.col("__part") == p).drop("__part")
        merge_commit(
            batch.sparkSession, os.path.join(rollup_path, f"part={p}"),
            applied_marker(batch_id), _fold_counts(mine, keys),
        )


def read_partitioned_rollup(spark, rollup_path: str) -> DataFrame:
    """Read the time-partitioned rollup (partition dirs are plain
    ``part=YYYY-MM-DD`` hive dirs; markers are ``_``-ignored)."""
    df = spark.read.parquet(rollup_path)
    return df.drop("part") if "part" in df.columns else df


def continuous_rollup(
    stream: DataFrame,
    rollup_path: str,
    checkpoint: str,
    ts_col: str,
    group_cols: list[str],
    grain: str = "minute",
):
    """Wire the merge as a foreachBatch streaming sink."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_rollup_batch(
            batch, rollup_path, ts_col, group_cols, grain, batch_id=batch_id
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
