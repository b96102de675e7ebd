"""Apply-changes sink: materialize a CDC envelope stream into a
current-state table (the canonical CDC consumer).

The reference ships changes to Kafka and leaves state reconstruction
to consumers (``sink/kafka/client/go/decoder.go`` — decode only, no
apply). This operator closes that loop Spark-side: given ordered
insert/update/delete ops for one table, maintain a keyed snapshot:

- per micro-batch, reduce each key to its LAST op (by log coords:
  within one batch an insert followed by update collapses to the
  final image; a trailing delete wins)
- merge with the existing snapshot: delete removes, insert/update
  upserts the after-image

Storage here is plain parquet rewritten per batch, committed through
``streaming/rollup.merge_commit`` (the one commit protocol of every
stateful sink): a rename-aside swap that leaves the last committed
snapshot recoverable at every crash point, and an ``_applied_<id>``
marker committed in the same rename so a replayed batch is a no-op.
Replay needs the marker: re-applying a MINIMAL key change or a
partial-JSON diff to its own output is NOT idempotent. At 100 TB
you'd swap the commit for a Delta/Iceberg MERGE INTO and keep the
same per-batch last-op reduction; the reduction is the scalable part
— it shuffles each batch once by key, never the snapshot by row
count (the join against the snapshot is keyed, prunable, and with a
partitioned snapshot only touched buckets rewrite).

Streaming entry: ``apply_changes_stream`` wires foreachBatch;
``apply_batch`` is the pure batch core (unit-testable without a
stream).

Row-image requirements (binlog_row_image): the default
``row_image="full"`` path assumes FULL after-images — every value
column present in each upsert — and ENFORCES it: an upsert whose
after map omits a declared value column (key missing from the map —
distinct from present-and-NULL, which stays in the map with its
null flag) raises :class:`PartialRowImageError` by name instead of
silently clobbering the untouched column to NULL in the merge.

``row_image="minimal"`` consumes binlog_row_image=MINIMAL/NOBLOB
feeds correctly (decode support: cdc_binlog_minimal_image; absent
columns are OMITTED from the envelope maps, see
sources/binlog_file.ABSENT): each value column resolves to the last
in-batch op that CARRIES it, and columns no op carried coalesce
from the current snapshot row via the same per-key join
``_materialize_json_patches`` does for JSON diffs. MINIMAL update
after-images may omit an unchanged PK, so keys resolve
after-coalesce-before BEFORE the update split (the FULL path's
split nulls the before map in the insert half). A PK-changing
MINIMAL update fills its absent columns from the OLD key's snapshot
row (the chain's origin key). MINIMAL + PARTIAL_JSON is refused
upstream by the decoder (ambiguous absent-vs-diff), so
``patch_json_cols`` with ``row_image="minimal"`` is rejected here
too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dolphinbeat_spark.streaming.rollup import (
    applied_marker,
    merge_commit,
    sweep_interrupted_swaps,
)

ROW_OPS = ("insert", "update", "delete")


class PartialRowImageError(ValueError):
    """An upsert's after image omitted a declared value column while
    the sink ran in FULL row-image mode (binlog_row_image=MINIMAL or
    NOBLOB feed into the default path). Re-run with
    ``row_image="minimal"`` or drop the column from value_cols."""


def _assert_full_images(winners: DataFrame, value_cols: list[str]) -> None:
    """FULL-mode gate: raise by name if any winning upsert's after map
    omits a declared value column. One bounded job over the batch's
    winners (limit-1 probe, no full materialization)."""
    probe = winners.filter(F.col("op_type") != "delete")
    # A NULL after map on a non-delete winner must fail the gate too:
    # map_contains_key(NULL, c) is NULL, ~NULL is NULL, and the filter
    # lambda would drop every column — coalesce to an empty map so all
    # declared columns report missing instead of none.
    after_map = F.coalesce(
        F.col("after"), F.from_json(F.lit("{}"), "map<string,string>")
    )
    missing = F.array_sort(
        F.filter(
            F.array(*[F.lit(c) for c in value_cols]),
            lambda c: ~F.map_contains_key(after_map, c),
        )
    )
    bad = (
        probe.select(
            missing.alias("__missing"),
            F.map_keys(after_map).alias("__have"),
        )
        .filter(F.size("__missing") > 0)
        .limit(1)
        .collect()
    )
    if bad:
        raise PartialRowImageError(
            "after image omits declared value column(s) "
            f"{list(bad[0]['__missing'])} (present: {sorted(bad[0]['__have'])}): "
            "this is a MINIMAL/NOBLOB row-image feed; apply it with "
            'row_image="minimal" instead of clobbering untouched columns to NULL'
        )


def _img_val(image: str, col: str):
    """Resolve one column from a stringly image map honoring the D12
    null flag: the wire encodes NULL as "" plus a true bit in
    ``{image}_null`` (same resolution ``typed_view`` applies), so a
    snapshot must store NULL, not ""."""
    raw = F.col(image).getItem(col)
    is_null = F.coalesce(F.col(f"{image}_null").getItem(col), F.lit(False))
    return F.when(is_null, F.lit(None)).otherwise(raw)


_IMG_COLS = ("op_type", "before", "before_null", "after", "after_null")


def _explode_pieces(
    ops: DataFrame, pieces, piece_fields: list[str]
) -> DataFrame:
    """Shared tail of the two normalizers: explode the per-op piece
    array in ONE pass, preserving the original column order with the
    image columns substituted from the piece and the synthetic columns
    (``__op_rank``, ``__k_*``/``__ok_*``) appended — byte-identical
    rows to the historical three-branch union, from a single scan of
    the envelope instead of three (r17: the union form scanned the
    binlog three times and re-derived the op/image expressions per
    branch; at 100 TB that is two extra passes over the log).

    ``materialized()`` on the piece array: InferFiltersFromGenerate
    synthesizes ``size(pieces) > 0 AND isnotnull(pieces)`` from the
    explode and would push it scan-ward with the whole image-building
    expression tree inlined (the documented shingle-duplication trap,
    auto-generated). The array is non-empty by construction — every op
    yields one or two pieces — so the barrier costs nothing and pins
    the inferred filter above the projection."""
    from dolphinbeat_spark.functions.barrier import materialized

    for c in ("__pieces", "__p"):
        if c in ops.columns:
            raise ValueError(
                f"batch already has a column named {c!r}, which the "
                "update split uses internally; rename or drop it"
            )
    passthrough = [c for c in ops.columns if c not in _IMG_COLS]
    ex = ops.select(
        *passthrough, materialized(pieces).alias("__pieces")
    ).select(*passthrough, F.explode("__pieces").alias("__p"))
    out = [
        F.col(f"__p.{c}").alias(c) if c in _IMG_COLS else F.col(c)
        for c in ops.columns
    ]
    return ex.select(
        *out, *[F.col(f"__p.{f}").alias(f) for f in piece_fields]
    )


def normalize_pk_changes(batch: DataFrame) -> DataFrame:
    """Rewrite every update op as delete(before-image) + insert(after-
    image) at the same log coordinates.

    MySQL ROW update events carry both images and the primary key MAY
    change between them; keying an update on its after-image alone
    would leave the old-key row live in the snapshot forever. After the
    split each op has exactly one key: after-image for inserts,
    before-image for deletes. ``__op_rank`` breaks the tie at identical
    coordinates so the insert half wins over the delete half when the
    key did NOT change.

    One-scan formulation (r17): each op maps to an array of one or two
    piece structs which is exploded — same row multiset as the
    historical non_upd ∪ as_delete ∪ as_insert union, without scanning
    the envelope source once per branch."""
    ops = batch.filter(F.col("op_type").isin(*ROW_OPS))
    null_map = F.lit(None).cast("map<string,string>")
    null_flags = F.lit(None).cast("map<string,boolean>")

    def piece(op, before, before_null, after, after_null, rank):
        return F.struct(
            op.alias("op_type"),
            before.alias("before"),
            before_null.alias("before_null"),
            after.alias("after"),
            after_null.alias("after_null"),
            F.lit(rank).alias("__op_rank"),
        )

    keep = piece(
        F.col("op_type"), F.col("before"), F.col("before_null"),
        F.col("after"), F.col("after_null"), 1,
    )
    del_half = piece(
        F.lit("delete"), F.col("before"), F.col("before_null"),
        null_map, null_flags, 0,
    )
    ins_half = piece(
        F.lit("insert"), null_map, null_flags,
        F.col("after"), F.col("after_null"), 2,
    )
    pieces = F.when(
        F.col("op_type") == "update", F.array(del_half, ins_half)
    ).otherwise(F.array(keep))
    return _explode_pieces(ops, pieces, ["__op_rank"])


def _normalize_minimal(batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """MINIMAL-image variant of :func:`normalize_pk_changes`: resolve
    per-op keys while BOTH images are intact, because a MINIMAL update
    after-image may omit an unchanged PK (the before image always
    carries it — it identifies the row).

    Emits per op: ``__k_*`` the op's effective key (delete half: before
    key; upsert half: after-coalesce-before key), ``__ok_*`` the op's
    ORIGIN key (the before key — where the row's prior state lives in
    the snapshot), and ``__op_rank`` with the same delete<other<insert
    ordering contract."""
    ops = batch.filter(F.col("op_type").isin(*ROW_OPS))
    new_key = {
        k: F.coalesce(_img_val("after", k), _img_val("before", k)) for k in key_cols
    }
    old_key = {
        k: F.coalesce(_img_val("before", k), _img_val("after", k)) for k in key_cols
    }
    null_map = F.lit(None).cast("map<string,string>")
    null_flags = F.lit(None).cast("map<string,boolean>")

    def piece(op, before, before_null, after, after_null, keys, rank):
        return F.struct(
            op.alias("op_type"),
            before.alias("before"),
            before_null.alias("before_null"),
            after.alias("after"),
            after_null.alias("after_null"),
            *[keys[k].alias(f"__k_{k}") for k in key_cols],
            *[old_key[k].alias(f"__ok_{k}") for k in key_cols],
            F.lit(rank).alias("__op_rank"),
        )

    # Keys are resolved INSIDE each piece, referencing the op's still-
    # intact before/after maps — the one-scan formulation preserves the
    # resolve-before-split contract for free (the piece expressions are
    # evaluated against the pre-split row).
    keep = piece(
        F.col("op_type"), F.col("before"), F.col("before_null"),
        F.col("after"), F.col("after_null"), new_key, 1,
    )
    del_half = piece(
        F.lit("delete"), F.col("before"), F.col("before_null"),
        null_map, null_flags, old_key, 0,
    )
    ins_half = piece(
        F.lit("insert"), null_map, null_flags,
        F.col("after"), F.col("after_null"), new_key, 2,
    )
    pieces = F.when(
        F.col("op_type") == "update", F.array(del_half, ins_half)
    ).otherwise(F.array(keep))
    return _explode_pieces(
        ops,
        pieces,
        [f"__k_{k}" for k in key_cols]
        + [f"__ok_{k}" for k in key_cols]
        + ["__op_rank"],
    )


def _merge_minimal_upserts(
    norm: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    current: DataFrame | None,
) -> DataFrame:
    """Per-key patch-merge of MINIMAL after-images: each value column
    resolves to the LAST in-batch op that carries it (max_by over log
    coordinates — absent columns yield a NULL ordering key, which
    max_by ignores; present-and-NULL stays a carried NULL via the null
    flag); columns NO op carried coalesce from the current snapshot
    row of the chain's ORIGIN key (min_by — so a PK-changing update
    pulls untouched columns from the old key's row). ``current`` is
    the committed snapshot (``None`` before the first commit). One
    shuffle on the key with map-side partial aggregation; the snapshot
    join is key-equi and bounded by the batch's touched keys."""
    ins = norm.filter(F.col("op_type") != "delete")
    ri = (
        F.coalesce(F.col("row_index"), F.lit(0))
        if "row_index" in ins.columns
        else F.lit(0)
    )
    coord = F.struct(
        F.col("log_name"), F.col("log_pos"), F.col("__op_rank"), ri.alias("__ri")
    )
    aggs = [
        F.min_by(F.struct(*[F.col(f"__ok_{k}").alias(k) for k in key_cols]), coord)
        .alias("__origin")
    ]
    for c in value_cols:
        carries = F.map_contains_key(F.col("after"), c)
        aggs.append(
            F.max_by(
                F.struct(_img_val("after", c).alias("v")),
                F.when(carries, coord),
            ).alias(f"__last_{c}")
        )
    folded = ins.groupBy(*[F.col(f"__k_{k}").alias(k) for k in key_cols]).agg(*aggs)
    if current is not None:
        old = current.select(
            *[F.col(k).alias(f"__o_{k}") for k in key_cols],
            *[F.col(c).alias(f"__old_{c}") for c in value_cols],
        )
        cond = [folded["__origin"][k] == old[f"__o_{k}"] for k in key_cols]
        folded = folded.join(old, cond, "left")
    else:
        for c in value_cols:
            folded = folded.withColumn(f"__old_{c}", F.lit(None).cast("string"))
    return folded.select(
        *key_cols,
        *[
            F.when(
                F.col(f"__last_{c}").isNotNull(), F.col(f"__last_{c}")["v"]
            ).otherwise(F.col(f"__old_{c}")).alias(c)
            for c in value_cols
        ],
    )


def last_op_per_key(batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collapse a micro-batch to one terminal op per key, ordered by
    binlog coordinates (log_name, log_pos) — the batch-local winner.
    Keys come from the after-image for upserts, before-image for
    deletes (null-flag-resolved). Honors ``__op_rank`` (from
    ``normalize_pk_changes``) as the within-coordinate tie-break."""
    ops = batch.filter(F.col("op_type").isin(*ROW_OPS))
    if "__op_rank" not in ops.columns:
        ops = ops.withColumn("__op_rank", F.lit(1))
    if f"__k_{key_cols[0]}" in ops.columns:
        # keys precomputed upstream (_normalize_minimal resolves them
        # BEFORE the update split, where the before map is still intact)
        keyed = ops
    else:
        keyed = ops.select(
            "*",
            *[
                F.coalesce(_img_val("after", k), _img_val("before", k)).alias(f"__k_{k}")
                for k in key_cols
            ],
        )
    # __op_rank stays the PRIMARY within-coordinate tiebreak: a
    # multi-row PK-changing update replays as all-deletes-then-
    # all-inserts (normalize_pk_changes ranks), so when one event's
    # row i inserts key K and row j>i deletes it (UPDATE SET k=k+1 on
    # consecutive keys), the insert must win — ordering row_index
    # FIRST would pick the delete and silently drop the key. row_index
    # is only the final determinism tiebreak between same-rank pieces.
    row_idx = (
        F.coalesce(F.col("row_index"), F.lit(0))
        if "row_index" in ops.columns
        else F.lit(0)
    )
    w = Window.partitionBy(*[f"__k_{k}" for k in key_cols]).orderBy(
        F.col("log_name").desc(), F.col("log_pos").desc(),
        F.col("__op_rank").desc(), row_idx.desc()
    )
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _normalize_batch(
    batch: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    patch_json_cols: tuple[str, ...],
    row_image: str,
) -> tuple[DataFrame, DataFrame]:
    """The batch-only half of both apply paths: the update-split ops
    (``norm``) and their per-key winners, with FULL mode's partial-
    image gate applied.

    The normalized batch and its winners feed SEVERAL jobs in one
    merge (the full-image gate's limit-1 probe, the JSON-patch /
    minimal-merge pass, the touched-keys anti-join side, the merged
    write) — and exchange reuse never spans separate jobs, so without
    a materialization each job re-ran the scan+normalize+shuffle chain
    from storage (r17: measured ~2-4 chain evaluations per merge).
    localCheckpoint (guide §5 — the cheap lineage cut) materializes
    each once; ``norm`` only where a second pass re-reads it."""
    if row_image == "minimal":
        if patch_json_cols:
            raise ValueError(
                "row_image='minimal' with patch_json_cols is unsupported: "
                "the decoder refuses MINIMAL+PARTIAL_JSON archives by name "
                "(an absent JSON column is indistinguishable from a diff)"
            )
        norm = _normalize_minimal(batch, key_cols)
    elif row_image == "full":
        norm = normalize_pk_changes(batch)
    else:
        raise ValueError(f"row_image must be 'full' or 'minimal', got {row_image!r}")
    if row_image == "minimal" or patch_json_cols:
        norm = norm.localCheckpoint(eager=False)
    winners = last_op_per_key(norm, key_cols).localCheckpoint(eager=False)
    if row_image == "full":
        _assert_full_images(winners, value_cols)
    return norm, winners


def _merge_snapshot(
    current: DataFrame | None,
    norm: DataFrame,
    winners: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    patch_json_cols: tuple[str, ...],
    row_image: str,
) -> DataFrame:
    """The post-batch snapshot: ``current`` (the committed rows, ``None``
    before the first commit) with every key the batch touched replaced
    by its upsert or, for a trailing delete, dropped."""
    keys = [F.col(f"__k_{k}").alias(k) for k in key_cols]
    live = winners.filter(F.col("op_type") != "delete")
    if row_image == "minimal":
        upserts = live.select(*keys).join(
            _merge_minimal_upserts(norm, key_cols, value_cols, current),
            key_cols, "inner",
        )
    else:
        upserts = live.select(
            *keys, *[_img_val("after", c).alias(c) for c in value_cols]
        )
        if patch_json_cols:
            upserts = _materialize_json_patches(
                norm, upserts, key_cols, patch_json_cols, current
            )
    if current is None:
        return upserts
    kept = current.join(winners.select(*keys), key_cols, "left_anti")
    return kept.unionByName(upserts)


def apply_batch(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_path: str,
    key_cols: list[str],
    value_cols: list[str],
    patch_json_cols: tuple[str, ...] = (),
    row_image: str = "full",
    batch_id: int | None = None,
) -> None:
    """Merge one batch of envelope ops into the parquet snapshot,
    committed through ``merge_commit`` (see the module docstring).

    ``patch_json_cols``: JSON columns whose after-images may arrive as
    WL#10570 partial diffs ({"$json_diff": [...]}, the binlog-file
    route under binlog_row_value_options=PARTIAL_JSON). Those columns
    fold the batch's FULL ordered per-key value sequence against the
    current snapshot value (operators/json_patch.py), so the snapshot
    stores materialized documents — last-op-wins alone would store the
    diff text itself as the value.

    ``row_image``: "full" (default — partial after-images raise
    :class:`PartialRowImageError`) or "minimal" (binlog_row_image=
    MINIMAL/NOBLOB feed: absent columns patch-merge from the last
    in-batch carrier, then the current snapshot row; see module
    docstring).

    ``batch_id``: the foreachBatch id. Given, the snapshot records it
    as an applied marker and a replay of the committed batch is a
    no-op; without it every call applies the batch again.

    The batch's normalized ops and winners are localCheckpointed, and
    those blocks die with their executor: if one is lost (dynamic
    allocation, decommission) the merge fails before its commit and
    the batch must be retried — foreachBatch does that, standalone
    callers must do it themselves."""
    norm, winners = _normalize_batch(
        batch, key_cols, value_cols, patch_json_cols, row_image
    )
    merge_commit(
        spark, snapshot_path, applied_marker(batch_id),
        lambda current: _merge_snapshot(
            current, norm, winners, key_cols, value_cols, patch_json_cols,
            row_image,
        ),
    )


def apply_changes_stream(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    key_cols: list[str],
    value_cols: list[str],
    row_image: str = "full",
):
    """foreachBatch wiring: exactly-once via the streaming checkpoint
    plus the snapshot's applied marker (a replayed batch id is a
    no-op)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_batch(batch.sparkSession, batch, snapshot_path, key_cols, value_cols,
                    row_image=row_image, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def scd2_history(batch: DataFrame, key_cols: list[str], value_cols: list[str]) -> DataFrame:
    """SCD2 (slowly-changing-dimension) view of an envelope batch: one
    row per (key, version) with [valid_from_pos, valid_to_pos) binlog
    validity ranges — the history-preserving CDC consumer, vs
    apply_batch's current-state snapshot.

    valid_to_pos of a version = valid_from_pos of the key's next op
    (NULL = still current); deletes close the last range and emit no
    new version. Pure window arithmetic (lead over per-key op order):
    one shuffle on the key, linear in ops. At 100 TB the history table
    appends per batch; closing the previous open version is a keyed
    MERGE exactly like apply_batch's. Updates are keyed on the
    after-image: a PK-changing update starts a new key's history (the
    old key's last version stays open — history is per-key identity)."""
    ops = batch.filter(F.col("op_type").isin(*ROW_OPS))
    keyed = ops.select(
        "op_type",
        "log_name",
        "log_pos",
        *[
            F.coalesce(_img_val("after", k), _img_val("before", k)).alias(k)
            for k in key_cols
        ],
        *[_img_val("after", c).alias(c) for c in value_cols],
    )
    w = Window.partitionBy(*key_cols).orderBy("log_name", "log_pos")
    with_next = keyed.withColumn(
        "valid_to_pos", F.lead("log_pos").over(w)
    ).withColumnRenamed("log_pos", "valid_from_pos")
    return (
        with_next.filter(F.col("op_type") != "delete")
        .select(
            *key_cols,
            *value_cols,
            "valid_from_pos",
            "valid_to_pos",
            F.col("valid_to_pos").isNull().alias("is_current"),
        )
    )


def _materialize_json_patches(
    norm: DataFrame,
    upserts: DataFrame,
    key_cols: list[str],
    patch_cols: tuple[str, ...],
    current: DataFrame | None,
) -> DataFrame:
    """Replace each patch column's last-op value with the fold of the
    key's ORDERED after-image sequence over the current snapshot value
    — full documents overwrite, {"$json_diff"} documents patch
    (a later diff can chain on an earlier diff within one batch, which
    last-op-wins cannot express). ``current`` is the committed
    snapshot (``None`` before the first commit). Work is bounded by
    the batch's touched keys: the sequence aggregation reads only this
    batch's inserts and the old-value join is key-equi against the
    snapshot."""
    from dolphinbeat_spark.operators.json_patch import fold_udf

    # envelope batches may lack __op_rank / row_index (same presence
    # guard as last_op_per_key — ADVICE r7)
    rank_col = (
        F.col("__op_rank") if "__op_rank" in norm.columns else F.lit(1)
    )
    ri_col = (
        F.coalesce(F.col("row_index"), F.lit(0))
        if "row_index" in norm.columns
        else F.lit(0)
    )
    ins = norm.filter(F.col("op_type") == "insert").select(
        *[_img_val("after", k).alias(k) for k in key_cols],
        "log_name",
        "log_pos",
        rank_col.alias("__op_rank"),
        ri_col.alias("__ri"),
        *[_img_val("after", c).alias(f"__v_{c}") for c in patch_cols],
    )
    seqs = ins.groupBy(*key_cols).agg(
        *[
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "log_name", "log_pos", "__op_rank", "__ri",
                            F.col(f"__v_{c}").alias("v"),
                        )
                    )
                ),
                lambda x: x["v"],
            ).alias(f"__seq_{c}")
            for c in patch_cols
        ]
    )
    out = upserts.join(seqs, list(key_cols), "left")
    if current is not None:
        old = current.select(
            *key_cols, *[F.col(c).alias(f"__old_{c}") for c in patch_cols]
        )
        out = out.join(old, list(key_cols), "left")
    else:
        for c in patch_cols:
            out = out.withColumn(f"__old_{c}", F.lit(None).cast("string"))
    fold = fold_udf()
    for c in patch_cols:
        out = out.withColumn(
            c,
            F.when(
                F.col(f"__seq_{c}").isNotNull(),
                fold(F.col(f"__old_{c}"), F.col(f"__seq_{c}")),
            ).otherwise(F.col(c)),
        )
    return out.drop(*[f"__seq_{c}" for c in patch_cols],
                    *[f"__old_{c}" for c in patch_cols])


def apply_batch_partitioned(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_path: str,
    key_cols: list[str],
    value_cols: list[str],
    num_buckets: int = 16,
    patch_json_cols: tuple[str, ...] = (),
    row_image: str = "full",
    batch_id: int | None = None,
) -> None:
    """Partitioned-snapshot merge: the snapshot is hive-partitioned on
    a hash bucket of the key; a batch only reads and rewrites the
    buckets its keys touch — per-batch cost is O(touched buckets), not
    O(snapshot). This is the plain-parquet approximation of a
    Delta/Iceberg MERGE and the shape that survives a 100 TB snapshot:
    with small batches most buckets are cold and never open.

    Same semantics and arguments as apply_batch. The whole batch
    merges once against the pre-batch state of the touched buckets
    and is materialized; each touched bucket then commits its slice
    through ``merge_commit`` with its own applied marker (an emptied
    bucket commits an empty slice). A crash between two bucket swaps
    replays the batch: swapped buckets skip on their marker, the rest
    redo from their pre-batch state. ``patch_json_cols`` reads old
    values from the same bucket as the key. ``row_image="minimal"``:
    a PK-changing update's origin key lands in the touched-bucket set
    through its delete half, so the bucket-pruned snapshot read still
    covers the coalesce-from-origin join — except on a replay after a
    crash between bucket swaps, when the origin key's bucket has
    already committed the delete (a cross-bucket gap a per-bucket
    commit cannot close)."""
    norm, winners = _normalize_batch(
        batch, key_cols, value_cols, patch_json_cols, row_image
    )

    def bucket_of(cols):
        return F.pmod(F.xxhash64(*cols), F.lit(num_buckets)).cast("int")

    key_exprs = [F.col(f"__k_{k}") for k in key_cols]
    touched = sorted(
        r[0] for r in winners.select(bucket_of(key_exprs)).distinct().collect()
    )
    if not touched:
        return
    sweep_interrupted_swaps(snapshot_path)
    current = None
    if os.path.isdir(snapshot_path) and any(
        e.startswith("__bucket=") for e in os.listdir(snapshot_path)
    ):
        current = (
            spark.read.parquet(snapshot_path)
            .filter(F.col("__bucket").isin(touched))  # partition-pruned read
            .drop("__bucket")
        )
    merged = (
        _merge_snapshot(
            current, norm, winners, key_cols, value_cols, patch_json_cols,
            row_image,
        )
        .withColumn("__bucket", bucket_of([F.col(k) for k in key_cols]))
        .localCheckpoint(eager=True)  # before any bucket swap moves its input
    )
    marker = applied_marker(batch_id)
    for b in touched:
        merge_commit(
            spark, os.path.join(snapshot_path, f"__bucket={b}"), marker,
            lambda _current, b=b: merged.filter(F.col("__bucket") == b).drop("__bucket"),
        )


def read_snapshot(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """Read a (partitioned or flat) snapshot without the internal
    bucket column."""
    df = spark.read.parquet(snapshot_path)
    return df.drop("__bucket") if "__bucket" in df.columns else df
