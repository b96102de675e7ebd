"""Incremental aggregate-view maintenance from CDC deltas.

``apply_changes`` maintains ROW state (the current table);
``streaming/rollup`` maintains aggregates over APPEND-ONLY events.
This sink closes the remaining cell: aggregates over a table that
receives updates and deletes, maintained incrementally with the
classic +/- delta algebra instead of recomputing from the snapshot —
each change op contributes signed deltas (insert +, delete −, update
as delete(before)+insert(after) via ``normalize_pk_changes``, which
also makes group-moving updates correct), and the persistent view
folds them in.

COUNT(*) and SUM(col) are SELF-MAINTAINABLE (with a non-null count
per SUM column so SQL's all-NULL-group → NULL semantics reconstruct
exactly). MIN/MAX are not self-maintainable under deletes (deleting
the current minimum requires the full group to find the next one; the
textbook result) — they are maintained HYBRID: inserts fold in place
(least/greatest against stored state), and a retraction that could
undercut the stored extremum triggers a recompute of JUST that group
from the caller-supplied base table (the ``apply_changes`` snapshot,
post-batch). The recompute predicate is exact: a group recomputes only
when a deleted value ≤ the group's candidate min (resp. ≥ candidate
max), so batches that never touch an extremum stay pure-delta.

At scale: a batch's deltas partial-aggregate to one row per touched
group before the merge; the merge unions against the (group-keyed,
already aggregated) view and re-aggregates — cost proportional to
touched groups + view size, never to the underlying table. Every
view directory (and each bucket of the partitioned form) commits
through ``streaming/rollup.merge_commit``: crash-safe rename-aside,
and an applied marker committed in the same rename makes a replayed
batch a no-op.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dolphinbeat_spark.sinks.apply_changes import _img_val, normalize_pk_changes
from dolphinbeat_spark.streaming.rollup import (
    applied_marker,
    merge_commit,
    sweep_interrupted_swaps,
)


@dataclass(frozen=True)
class AggViewSpec:
    """Definition of one maintained view over a stringly CDC envelope:
    group columns and SUM columns are resolved from the op's image
    (after-image for inserts, before-image for deletes) and cast from
    the wire strings."""

    group_cols: tuple[str, ...]
    sum_cols: tuple[str, ...] = field(default_factory=tuple)
    #: MIN/MAX-maintained columns: hybrid fold + recompute-on-retraction
    #: (merges then REQUIRE the ``base`` table argument)
    min_cols: tuple[str, ...] = field(default_factory=tuple)
    max_cols: tuple[str, ...] = field(default_factory=tuple)
    #: AVG/STDDEV-derived columns: maintain sum, non-null count AND
    #: sum-of-squares (all self-maintainable signed deltas); the reader
    #: derives avg_<c> and std_<c> (sample stddev) from them
    avg_cols: tuple[str, ...] = field(default_factory=tuple)
    #: COUNT(DISTINCT c)-maintained columns: a second-level view keyed
    #: (group_cols..., c) tracks per-value multiplicity — the exact
    #: state distinct-under-deletes requires (a value disappears only
    #: when its LAST copy retracts); the reader counts live values
    distinct_cols: tuple[str, ...] = field(default_factory=tuple)
    cast: str = "double"  # numeric type the wire strings cast to

    @property
    def value_cols(self) -> tuple[str, ...]:
        seen: dict[str, None] = {}
        for c in (*self.sum_cols, *self.avg_cols, *self.min_cols, *self.max_cols):
            seen.setdefault(c)
        return tuple(seen)

    @property
    def acc_cols(self) -> tuple[str, ...]:
        """Columns carrying sum/non-null-count accumulators (SUM output
        columns plus AVG/STDDEV inputs, deduped)."""
        seen: dict[str, None] = {}
        for c in (*self.sum_cols, *self.avg_cols):
            seen.setdefault(c)
        return tuple(seen)

    def distinct_subview(self, c: str) -> "AggViewSpec":
        """The level-2 spec for COUNT(DISTINCT c): same delta algebra,
        keyed one level deeper — n_delta per (group, value) IS the
        value's multiplicity, and the fold drops it at zero."""
        return AggViewSpec(group_cols=(*self.group_cols, c), cast=self.cast)


def delta_frame(batch: DataFrame, view: AggViewSpec) -> DataFrame:
    """One signed delta row per normalized change op → aggregated to
    one row per touched group: n_delta (COUNT(*)), and per SUM column
    sum_<c> plus nn_<c> (non-null count)."""
    ops = normalize_pk_changes(batch)
    sign = F.when(F.col("op_type") == "insert", F.lit(1)).otherwise(F.lit(-1))

    def from_img(col: str):
        # insert reads the after-image, delete the before-image (the
        # only images normalize_pk_changes leaves populated)
        return F.when(
            F.col("op_type") == "insert", _img_val("after", col)
        ).otherwise(_img_val("before", col))

    proj = ops.select(
        sign.alias("__sign"),
        *[from_img(g).alias(g) for g in view.group_cols],
        *[from_img(c).cast(view.cast).alias(f"__v_{c}") for c in view.value_cols],
    )
    aggs = [F.sum("__sign").cast("bigint").alias("n_delta")]
    for c in view.acc_cols:
        v = F.col(f"__v_{c}")
        aggs.append(
            F.sum(F.when(v.isNotNull(), F.col("__sign") * v).otherwise(F.lit(0)))
            .cast(view.cast)
            .alias(f"sum_{c}")
        )
        aggs.append(
            F.sum(F.when(v.isNotNull(), F.col("__sign")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"nn_{c}")
        )
    for c in view.avg_cols:
        # sum of squares: the third self-maintainable moment AVG/STDDEV
        # derivation needs (std² = (Σv² − (Σv)²/n) / (n−1))
        v = F.col(f"__v_{c}")
        aggs.append(
            F.sum(F.when(v.isNotNull(), F.col("__sign") * v * v).otherwise(F.lit(0)))
            .cast(view.cast)
            .alias(f"sq_{c}")
        )
    # MIN/MAX deltas keep the two sides separate: the insert side is a
    # candidate extremum (folds like stored state); the delete side
    # (rmin/rmax) only ever triggers the recompute predicate
    for c in view.min_cols:
        v = F.col(f"__v_{c}")
        aggs.append(F.min(F.when(F.col("__sign") == 1, v)).cast(view.cast).alias(f"min_{c}"))
        aggs.append(F.min(F.when(F.col("__sign") == -1, v)).cast(view.cast).alias(f"rmin_{c}"))
    for c in view.max_cols:
        v = F.col(f"__v_{c}")
        aggs.append(F.max(F.when(F.col("__sign") == 1, v)).cast(view.cast).alias(f"max_{c}"))
        aggs.append(F.max(F.when(F.col("__sign") == -1, v)).cast(view.cast).alias(f"rmax_{c}"))
    return proj.groupBy(*view.group_cols).agg(*aggs)


def _fold_aggs(view: AggViewSpec) -> list:
    """The re-aggregation list merging stored state with new deltas —
    one definition shared by the flat and bucket-partitioned merges.
    Stored rows carry min_<c>/max_<c> and NULL retraction columns, so
    folding min(min_<c>) computes the candidate extremum (stored vs
    insert-side) and min(rmin_<c>) surfaces the batch's retractions."""
    aggs = [F.sum("n_delta").cast("bigint").alias("n_delta")] + [
        a
        for c in view.acc_cols
        for a in (
            F.sum(f"sum_{c}").cast(view.cast).alias(f"sum_{c}"),
            F.sum(f"nn_{c}").cast("bigint").alias(f"nn_{c}"),
        )
    ]
    for c in view.avg_cols:
        aggs.append(F.sum(f"sq_{c}").cast(view.cast).alias(f"sq_{c}"))
    for c in view.min_cols:
        aggs.append(F.min(f"min_{c}").cast(view.cast).alias(f"min_{c}"))
        aggs.append(F.min(f"rmin_{c}").cast(view.cast).alias(f"rmin_{c}"))
    for c in view.max_cols:
        aggs.append(F.max(f"max_{c}").cast(view.cast).alias(f"max_{c}"))
        aggs.append(F.max(f"rmax_{c}").cast(view.cast).alias(f"rmax_{c}"))
    return aggs


def _merge_dir(spark, deltas: DataFrame, dir_path: str, view: AggViewSpec,
               marker: str | None, base: DataFrame | None = None) -> None:
    """Fold deltas into one aggregate directory through
    :func:`~dolphinbeat_spark.streaming.rollup.merge_commit`.

    With MIN/MAX columns, ``base`` must be the POST-batch base table
    (group cols + value cols, typed) — groups whose stored extremum a
    retraction may have invalidated recompute from it; every other
    group folds purely from deltas."""

    def merge(current: DataFrame | None) -> DataFrame:
        merged = deltas
        if current is not None:
            merged = (
                current.unionByName(deltas, allowMissingColumns=True)
                .groupBy(*view.group_cols)
                .agg(*_fold_aggs(view))
            )
        merged = merged.filter(F.col("n_delta") != 0)
        if view.min_cols or view.max_cols:
            if base is None:
                raise ValueError(
                    "MIN/MAX maintenance needs the post-batch base table "
                    "(pass base=<apply_changes snapshot>)"
                )
            merged = _resolve_extrema(merged, view, base)
        return merged

    merge_commit(spark, dir_path, marker, merge)


def _resolve_extrema(merged: DataFrame, view: AggViewSpec, base: DataFrame) -> DataFrame:
    """Split folded groups into pure-delta vs recompute-needed.

    Exactness of the predicate: with candidate = least(stored extremum,
    insert-side extremum), a deletion strictly above the candidate min
    cannot change the min (the candidate value is known present), so
    only rmin ≤ candidate (resp. rmax ≥ candidate) forces a group
    recompute — deleting one of several copies of the extremum included
    (multiplicity is unknowable without the full group)."""
    need = F.lit(False)
    for c in view.min_cols:
        need = need | (
            F.col(f"rmin_{c}").isNotNull()
            & (F.col(f"min_{c}").isNull() | (F.col(f"rmin_{c}") <= F.col(f"min_{c}")))
        )
    for c in view.max_cols:
        need = need | (
            F.col(f"rmax_{c}").isNotNull()
            & (F.col(f"max_{c}").isNull() | (F.col(f"rmax_{c}") >= F.col(f"max_{c}")))
        )
    drop_r = [f"rmin_{c}" for c in view.min_cols] + [f"rmax_{c}" for c in view.max_cols]
    drop_x = [f"min_{c}" for c in view.min_cols] + [f"max_{c}" for c in view.max_cols]
    flagged = merged.withColumn("__need", need)
    ok = flagged.filter(~F.col("__need")).drop("__need", *drop_r)
    stale = flagged.filter(F.col("__need")).drop("__need", *drop_r, *drop_x)
    keys = list(view.group_cols)
    recomputed = (
        base.join(stale.select(*keys), keys, "left_semi")
        .groupBy(*keys)
        .agg(
            *[F.min(c).cast(view.cast).alias(f"min_{c}") for c in view.min_cols],
            *[F.max(c).cast(view.cast).alias(f"max_{c}") for c in view.max_cols],
        )
    )
    return ok.unionByName(stale.join(recomputed, keys, "left"))


def merge_agg_batch(
    batch: DataFrame,
    view_path: str,
    view: AggViewSpec,
    batch_id: int | None = None,
    base: DataFrame | None = None,
) -> None:
    """Fold one micro-batch's deltas into the persistent view.
    Groups whose row count reaches zero are dropped (they no longer
    exist in the underlying table). Crash-safe swap + replay markers:
    replayed batches are no-ops, and no crash point loses the prior
    state (the rename-aside discipline). Views with MIN/MAX columns
    pass ``base`` = the post-batch base table for group recompute on
    extremum retraction."""
    marker = applied_marker(batch_id)
    if view.distinct_cols:
        # each COUNT(DISTINCT) column replays the batch through its own
        # level-2 delta_frame in a separate merge job, and exchange
        # reuse never spans jobs — materialize the batch slice once so
        # the envelope chain runs once per batch, not once per view
        # (r17; same rationale as apply_batch's localCheckpoint)
        batch = batch.localCheckpoint(eager=False)
    deltas = delta_frame(batch, view)
    _merge_dir(batch.sparkSession, deltas, view_path, view, marker, base=base)
    # COUNT(DISTINCT) state: one level-2 view per column, maintained by
    # the SAME machinery recursively (value as an extra group key —
    # n_delta is the value's live multiplicity). Each sub-view has its
    # own swap/marker, so a crash between the main merge and a
    # sub-merge replays the batch with each half skipping on its marker
    for c in view.distinct_cols:
        merge_agg_batch(
            batch, _distinct_path(view_path, c), view.distinct_subview(c),
            batch_id=batch_id,
        )


def incremental_agg_stream(
    stream: DataFrame,
    view_path: str,
    checkpoint_dir: str,
    view: AggViewSpec,
):
    """foreachBatch wiring: envelope stream → continuously maintained
    aggregate view."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_agg_batch(batch, view_path, view, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
    )


def _distinct_path(view_path: str, c: str) -> str:
    return f"{view_path}.distinct_{c}"


def read_agg_view(spark: SparkSession, view_path: str, view: AggViewSpec) -> DataFrame:
    """Present the maintained state with exact SQL aggregate semantics:
    COUNT(*) = n_delta; SUM(c) = NULL when the group holds no non-null
    values (nn_c = 0), the stored sum otherwise; AVG(c) = sum/nn;
    STDDEV(c) = sample stddev from the three maintained moments (NULL
    below two non-null values, like SQL STDDEV_SAMP); COUNT(DISTINCT c)
    = live non-null values in the level-2 state (0 for an all-NULL
    group, matching SQL)."""
    df = spark.read.parquet(view_path)
    if "__bucket" in df.columns:  # hash-partitioned layout
        df = df.drop("__bucket")
    cols = [*view.group_cols, F.col("n_delta").alias("n_rows")]
    for c in view.sum_cols:
        cols.append(
            F.when(F.col(f"nn_{c}") > 0, F.col(f"sum_{c}"))
            .otherwise(F.lit(None).cast(view.cast))
            .alias(f"sum_{c}")
        )
    for c in view.avg_cols:
        nn, s, sq = F.col(f"nn_{c}"), F.col(f"sum_{c}"), F.col(f"sq_{c}")
        cols.append(
            F.when(nn > 0, s / nn).otherwise(F.lit(None).cast(view.cast))
            .alias(f"avg_{c}")
        )
        # greatest(0, ·) guards the tiny negative variance floating-
        # point cancellation can produce when all values are equal
        cols.append(
            F.when(
                nn > 1,
                F.sqrt(F.greatest(F.lit(0.0), (sq - s * s / nn) / (nn - F.lit(1)))),
            )
            .otherwise(F.lit(None).cast(view.cast))
            .alias(f"std_{c}")
        )
    for c in view.min_cols:
        cols.append(F.col(f"min_{c}"))
    for c in view.max_cols:
        cols.append(F.col(f"max_{c}"))
    out = df.select(*cols)
    for c in view.distinct_cols:
        sub = spark.read.parquet(_distinct_path(view_path, c))
        if "__bucket" in sub.columns:
            sub = sub.drop("__bucket")
        keys = list(view.group_cols)
        dc = (
            sub.filter(F.col(c).isNotNull() & (F.col("n_delta") > 0))
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"distinct_{c}"))
        )
        out = out.join(dc, keys, "left").withColumn(
            f"distinct_{c}", F.coalesce(F.col(f"distinct_{c}"), F.lit(0).cast("bigint"))
        )
    return out


def merge_agg_batch_partitioned(
    batch: DataFrame,
    view_path: str,
    view: AggViewSpec,
    batch_id: int | None = None,
    num_buckets: int = 16,
    base: DataFrame | None = None,
) -> None:
    """Hash-bucket-partitioned variant: the view lays out as one
    directory per key-hash bucket and a batch merges ONLY the buckets
    its groups touch — per-batch cost O(touched buckets), never
    O(view), the shape that survives a 100 TB aggregate (small batches
    leave most buckets cold). DELTAS are not idempotent, so each
    touched bucket commits through ``merge_commit`` with its own
    in-dir marker: a crash between bucket swaps replays the batch,
    swapped buckets skip on their marker, unswapped ones redo from
    their old state — exactly-once per bucket, no double counting."""
    spark = batch.sparkSession
    os.makedirs(view_path, exist_ok=True)
    # recover EVERY interrupted bucket swap, not just the ones this
    # batch touches — an aside dir holds the only committed copy of
    # its bucket and is invisible to readers until restored
    sweep_interrupted_swaps(view_path)
    _pin_bucket_count(view_path, num_buckets)
    deltas = delta_frame(batch, view)
    bucket = F.pmod(
        F.xxhash64(*[F.col(g) for g in view.group_cols]), F.lit(num_buckets)
    ).cast("int")
    deltas = deltas.withColumn("__bucket", bucket).localCheckpoint(eager=True)
    touched = [r["__bucket"] for r in deltas.select("__bucket").distinct().collect()]
    marker = applied_marker(batch_id)
    for b in sorted(touched):
        mine = deltas.filter(F.col("__bucket") == b).drop("__bucket")
        _merge_dir(
            spark, mine, os.path.join(view_path, f"__bucket={b}"), view,
            marker, base=base,
        )
    # level-2 distinct state buckets by ITS key hash (group + value) —
    # same touched-bucket discipline, recursively
    for c in view.distinct_cols:
        merge_agg_batch_partitioned(
            batch, _distinct_path(view_path, c), view.distinct_subview(c),
            batch_id=batch_id, num_buckets=num_buckets,
        )


def _pin_bucket_count(view_path: str, num_buckets: int) -> None:
    """The bucket count is part of the view's on-disk layout: merging
    with a different count would scatter a group across two buckets
    (duplicate, conflicting rows). Pin it in a '_'-prefixed meta file
    on first write and refuse mismatches loudly."""
    import json

    meta = os.path.join(view_path, "_view_meta.json")
    if os.path.exists(meta):
        stored = json.loads(open(meta).read())
        if stored.get("num_buckets") != num_buckets:
            raise ValueError(
                f"view at {view_path} was built with num_buckets="
                f"{stored.get('num_buckets')}; merging with {num_buckets} "
                "would split groups across buckets"
            )
    else:
        with open(meta, "w") as f:
            json.dump({"num_buckets": num_buckets}, f)


def snapshot_and_agg_stream(
    stream: DataFrame,
    snapshot_path: str,
    view_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    value_cols: list[str],
    view: AggViewSpec,
    cast_cols: dict[str, str] | None = None,
    patch_json_cols: tuple[str, ...] = (),
):
    """The composed CDC-consumer deployment shape: ONE foreachBatch
    maintains the row snapshot (apply_changes) and the aggregate view
    in lockstep — the snapshot merges first, then the aggregate fold
    uses the freshly-merged snapshot as its MIN/MAX recompute base
    (exactly the post-batch-base contract _resolve_extrema documents,
    now wired instead of left to the caller).

    Ordering is the correctness point: a crash between the two merges
    replays the batch — both merges commit through ``merge_commit``
    with the batch id as their applied marker, so the snapshot skips
    its half instead of re-applying it (a MINIMAL key change or a JSON
    diff is not idempotent) and the aggregate folds exactly once.
    ``cast_cols`` types the snapshot's wire strings for the recompute
    (e.g. {"amount": "double"})."""
    from dolphinbeat_spark.sinks.apply_changes import apply_batch, read_snapshot

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        apply_batch(spark, batch, snapshot_path, key_cols, value_cols,
                    patch_json_cols=patch_json_cols, batch_id=batch_id)
        base = read_snapshot(spark, snapshot_path)
        for c, t in (cast_cols or {}).items():
            base = base.withColumn(c, F.col(c).cast(t))
        merge_agg_batch(batch, view_path, view, batch_id=batch_id, base=base)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
