"""Ordered, sequence-numbered, exactly-once sinks (reference K1/K2/K6/K7).

The reference preserves binlog total order by producing every op to a
single Kafka topic-partition with ``acks=all`` and a monotonically
increasing ``seq`` per producer; consumers dedup on seq gaps
(``sink/kafka/kafka.go:82-126,345-368``; client decoder seq-dedup
``sink/kafka/client/go/decoder.go:161-165``).

Every sink here is one :class:`SeqStampedSink` pipeline per batch:

1. ``_base_seq``: the persisted base of the batch id (a replay reuses
   it), else the next seq after the highest committed one (the sink's
   in-memory high-water mark: the meta dir is scanned once per sink);
2. encode, in the batch's own partitions, to an Arrow table of the
   four sort keys plus a payload;
3. :func:`total_order`: one stable driver-side sort by (log_name,
   log_pos, :data:`OP_RANK`, row_index), NULLs first;
4. seq stamp and transport: a parquet file per batch
   (:class:`OrderedFileSink`), or ``produce(seq, value)`` plus the
   transport's ``flush()`` (:class:`JsonKafkaSink`,
   :class:`ProtobufKafkaSink` over a :class:`KafkaTransport`);
5. ``_commit_meta``, only after the transport returned, so a batch the
   broker rejected is never recorded.

Structured Streaming replays a failed batch with the same batch_id and
the same data, so a replay regenerates byte-identical output —
at-least-once delivery plus consumer seq-dedup is the reference's
exactly-once contract. The recovery scan (K6) collapses to reading the
persisted seq metadata.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: binlog-semantic rank of the op types that could ever share a
#: (log_name, log_pos): gtid/begin precede the row images, commit
#: follows them, and a rotate ending a file at position P comes after
#: everything that ended at P — never the accident of alphabetical
#: order (which would sort 'commit' before 'insert'). Every other op
#: type (insert/update/delete/query/ddl/ddl_failed) ranks 3.
OP_RANK = {"gtid": 1, "begin": 2, "commit": 4, "rotate": 5}

#: the columns :func:`total_order` sorts by, which every encoder's
#: table carries
SORT_KEYS = ("log_name", "log_pos", "op_type", "row_index")


class SeqStampedSink:
    """The one ordered-sink core (module docstring): a persisted
    per-batch base sequence (replay-stable), the driver-side total
    order, and the seq meta committed after the transport returns.
    Subclasses supply ``_encode`` and ``_deliver``.

    ``meta_dir`` is the collapsed K6 recovery scan: instead of reading
    the topic tail backwards for the last committed seq
    (``sink/kafka/kafka.go:345-368``), the base/row-count of each batch
    id is committed to a tiny JSON next to the sink."""

    def __init__(self, meta_dir: str | Path, producer_id: int = 1) -> None:
        self.meta_dir = Path(meta_dir)
        self.meta_dir.mkdir(parents=True, exist_ok=True)
        self.producer_id = producer_id
        #: the base after every committed batch; None until the first
        #: ``_base_seq`` scans the meta dir
        self._high: int | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        base = self._base_seq(batch_id)
        n = self._deliver(total_order(self._encode(batch_df)), base, batch_id)
        self._commit_meta(batch_id, base, n)

    def _encode(self, batch_df: DataFrame):
        """The batch as a ``pyarrow.Table`` holding :data:`SORT_KEYS`
        and the payload columns."""
        raise NotImplementedError

    def _deliver(self, ordered, base: int, batch_id: int) -> int:
        """Stamp seqs after ``base`` onto the ordered table and hand it
        to the transport; return the number of seqs used."""
        raise NotImplementedError

    def _base_seq(self, batch_id: int) -> int:
        """Deterministic base: replayed batches reuse their recorded
        base; new batches start after the highest committed seq. The
        meta dir is read whole only on the first call of a sink; its
        one writer (this sink) keeps the high-water mark after that."""
        if self._high is None:
            self._high = self._scan_high()
        mine = self.meta_dir / f"{batch_id}.json"
        if mine.exists():
            return json.loads(mine.read_text())["base_seq"]
        return self._high

    def _scan_high(self) -> int:
        """The base after every batch the meta dir records."""
        best = 0
        for p in self.meta_dir.glob("*.json"):
            m = json.loads(p.read_text())
            best = max(best, m["base_seq"] + m["n_rows"])
        return best

    #: retained per-batch meta files. Structured Streaming replays only
    #: the last uncommitted batch, so old metas exist purely to seed
    #: _base_seq's max — a bounded tail is sufficient and keeps the
    #: meta dir O(1) over a long-running stream.
    META_RETENTION = 100

    def _commit_meta(self, batch_id: int, base_seq: int, n_rows: int) -> None:
        tmp = self.meta_dir / f".{batch_id}.tmp"
        tmp.write_text(json.dumps({"base_seq": base_seq, "n_rows": n_rows}))
        os.replace(tmp, self.meta_dir / f"{batch_id}.json")
        self._high = max(self._high, base_seq + n_rows)
        metas = sorted(
            (p for p in self.meta_dir.glob("*.json")), key=lambda p: int(p.stem)
        )
        for p in metas[: -self.META_RETENTION]:
            p.unlink(missing_ok=True)


def _envelope_cols(batch_df: DataFrame) -> DataFrame:
    """The batch as the ordered sinks carry it: a missing ``row_index``
    reads as 0, and any ``seq``/``producer_id`` already present gives
    way to the sink's own stamp."""
    if "row_index" not in batch_df.columns:
        batch_df = batch_df.withColumn("row_index", F.lit(0))
    return batch_df.drop("seq", "producer_id")


def total_order(table):
    """``table`` (a ``pyarrow.Table`` with :data:`SORT_KEYS`) in the K1
    total order: ascending by (log_name, log_pos, :data:`OP_RANK`,
    row_index), NULLs first, a NULL row_index ranked as 0, and ties
    kept in arrival order (a stable sort over the partitions in order).
    binlog coordinates alone are not total: the source emits one
    envelope op per row of a multi-row event, all sharing the event's
    log_pos, so the source-stamped ``row_index`` is the tiebreak; the
    op-type rank covers the cross-event tie a synthetic/fixture stream
    can produce."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rank = pa.array(
        [OP_RANK.get(t, 3) for t in table.column("op_type").to_pylist()],
        pa.int32(),
    )
    keys = pa.table({
        "log_name": table.column("log_name"),
        "log_pos": table.column("log_pos"),
        "rank": rank,
        "row_index": pc.fill_null(table.column("row_index"), 0),
    })
    order = pc.sort_indices(
        keys,
        sort_keys=[(k, "ascending") for k in keys.column_names],
        null_placement="at_start",
    )
    return table.take(order)


class OrderedFileSink(SeqStampedSink):
    """foreachBatch writer: the batch, ordered and seq-stamped, as one
    parquet file in ``<out_dir>/batch=<id>/``. The file is written to a
    ``.``-prefixed temp name (which readers skip) and renamed into
    place, so a replay of the batch replaces it whole."""

    def __init__(self, out_dir: str, producer_id: int = 1) -> None:
        self.out_dir = Path(out_dir)
        super().__init__(self.out_dir / "_seq_meta", producer_id)

    def _encode(self, batch_df: DataFrame):
        return _envelope_cols(batch_df).toArrow()

    def _deliver(self, ordered, base: int, batch_id: int) -> int:
        import numpy as np
        import pyarrow.parquet as pq

        n = ordered.num_rows
        stamped = ordered.append_column(
            "seq", [np.arange(base + 1, base + n + 1, dtype=np.int64)]
        ).append_column("producer_id", [np.full(n, self.producer_id, dtype=np.int64)])
        out = self.out_dir / f"batch={batch_id}"
        out.mkdir(parents=True, exist_ok=True)
        tmp = out / ".part-0.parquet.tmp"
        pq.write_table(stamped, tmp)
        os.replace(tmp, out / "part-0.parquet")
        return n


def read_with_consumer_dedup(spark, out_dir: str) -> DataFrame:
    """Consumer-side contract (reference K7 / client decoder): read all
    batches, dedup on (producer_id, seq), return in seq order."""
    df = spark.read.parquet(f"{out_dir}/batch=*")
    return df.dropDuplicates(["producer_id", "seq"]).orderBy("producer_id", "seq")


def decode_kafka_messages(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """Consumer-side decoder for the JSON Kafka path (the Spark analog
    of the reference's client library,
    ``sink/kafka/client/go/decoder.go``): parse the JSON message value
    back into the seq-stamped envelope, dedup on (producer_id, seq),
    return in seq order.

    ``messages`` is whatever carries the message bytes — a
    ``spark.read.format("kafka")`` DataFrame (binary ``value``) or a
    fake producer's capture in tests. Round-trip contract:
    :class:`JsonKafkaSink` messages → decode → the original stamped
    envelope rows, with at-least-once transport overlaps collapsed
    (K7)."""
    from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA
    from pyspark.sql import types as T

    schema = T.StructType(
        list(ENVELOPE_SCHEMA.fields)
        + [
            T.StructField("seq", T.LongType()),
            T.StructField("producer_id", T.LongType()),
        ]
    )
    parsed = messages.select(
        F.from_json(F.col(value_col).cast("string"), schema).alias("m")
    ).select("m.*")
    return parsed.dropDuplicates(["producer_id", "seq"]).orderBy("producer_id", "seq")


class DeliveryError(RuntimeError):
    """The transport could not confirm every message of a batch; the
    batch's seq meta is not committed, so its replay reuses the base."""


class KafkaTransport:
    """The ``produce(seq, value)`` callable the Kafka sinks take, over a
    confluent-shaped producer: every message goes to one
    topic-partition, keyed by its seq (kafka.go:280-343). Delivery
    callbacks are served on every produce; a full local queue is
    drained and the produce retried. :meth:`flush` runs once per batch
    and raises :class:`DeliveryError` on any failed delivery or any
    message still unflushed — the reference's wait-for-ack before it
    records progress."""

    def __init__(self, producer, topic: str, partition: int = 0) -> None:
        self.producer, self.topic, self.partition = producer, topic, partition
        self._failed: list = []

    def _on_delivery(self, err, _msg) -> None:
        if err is not None:
            self._failed.append(err)

    def __call__(self, seq: int, value: bytes) -> None:
        while True:
            try:
                self.producer.produce(
                    topic=self.topic, partition=self.partition,
                    key=str(seq).encode(), value=value,
                    on_delivery=self._on_delivery,
                )
                break
            except BufferError:
                self.producer.poll(1)
        self.producer.poll(0)

    def flush(self) -> None:
        unflushed = self.producer.flush() or 0
        failed, self._failed = self._failed, []
        if failed or unflushed:
            raise DeliveryError(
                f"{len(failed)} failed and {unflushed} unflushed deliveries"
                + (f"; first error: {failed[0]}" if failed else "")
            )


def _confluent_producer(bootstrap: str):  # pragma: no cover - needs kafka client
    try:
        from confluent_kafka import Producer
    except ImportError as ex:
        raise ImportError(
            "the kafka sink needs confluent_kafka; use the stdout sink "
            "(OrderedFileSink) without it"
        ) from ex
    return Producer(
        {
            "bootstrap.servers": bootstrap,
            "enable.idempotence": True,  # broker-side producer dedup
            "acks": "all",
            "compression.type": "lz4",
        }
    )


class _KafkaSink(SeqStampedSink):
    """The produce half shared by the Kafka encoders: every message in
    seq order through ``produce(seq, value_bytes)``, then the
    transport's ``flush()`` when it has one (:class:`KafkaTransport`);
    ``_commit_meta`` runs only after that returns. ``produce`` is
    injectable (tests capture bytes; production passes a
    :class:`KafkaTransport`)."""

    def __init__(self, meta_dir: str, produce, producer_id: int = 1) -> None:
        super().__init__(meta_dir, producer_id)
        self.produce = produce

    def _messages(self, ordered, base: int) -> list[tuple[int, bytes]]:
        raise NotImplementedError

    def _deliver(self, ordered, base: int, batch_id: int) -> int:
        msgs = self._messages(ordered, base)
        for seq, value in msgs:
            self.produce(seq, value)
        flush = getattr(self.produce, "flush", None)
        if flush is not None:
            flush()
        return len(msgs)


class JsonKafkaSink(_KafkaSink):
    """JSON messages, one per op: the envelope as Spark's
    ``to_json(struct(...))`` computes it in the batch's own partitions,
    with ``"seq"`` and ``"producer_id"`` — the fields the reference's
    client decoder keys its dedup on (decoder.go:161-165) — spliced in
    as the last two fields on the driver. :func:`decode_kafka_messages`
    reads them back."""

    def _encode(self, batch_df: DataFrame):
        return _envelope_cols(batch_df).select(
            *SORT_KEYS, F.to_json(F.struct("*")).alias("value")
        ).toArrow()

    def _messages(self, ordered, base: int) -> list[tuple[int, bytes]]:
        tail = f',"producer_id":{self.producer_id}}}'
        msgs = []
        for i, value in enumerate(ordered.column("value").to_pylist(), base + 1):
            sep = "," if len(value) > 2 else ""  # "{}": every field NULL
            msgs.append((i, f'{value[:-1]}{sep}"seq":{i}{tail}'.encode()))
        return msgs


def pack_multirow_events(envelope: DataFrame) -> DataFrame:
    """Regroup the envelope's one-row-per-image ops back into ONE op
    per RowsEvent, carrying all images in a ``__rows`` array (ordered
    by the source-stamped row_index) — the reference producer's wire
    shape (one Operation per event, repeated ``Row rows = 14``,
    operation.go:33-73). Byte-level parity for multi-row
    INSERT/UPDATE/DELETE plus fewer repeated table defs on the wire.

    One groupBy on the event coordinates (a shuffle — the price of the
    packed shape; the default unpacked path stays shuffle-free until
    the K1 boundary). Non-row ops pass through unchanged."""
    row_ops = F.col("op_type").isin("insert", "update", "delete")
    rows = envelope.filter(row_ops)
    others = envelope.filter(~row_ops).withColumn(
        "__rows",
        F.lit(None).cast(
            "array<struct<row_index:int,"
            "before:map<string,string>,before_null:map<string,boolean>,"
            "after:map<string,string>,after_null:map<string,boolean>>>"
        ),
    )
    group_keys = [
        c for c in ("log_name", "log_pos", "op_type", "db", "table",
                    "server_id", "timestamp", "schema_version")
        if c in envelope.columns
    ]
    carried = [c for c in envelope.columns if c not in group_keys]
    packed = (
        rows.groupBy(*group_keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("row_index", "before", "before_null",
                             "after", "after_null")
                ),
                # explicit comparator on row_index: the default struct
                # ordering can't compare the map-typed image fields
                lambda a, b: F.when(a["row_index"] < b["row_index"], -1)
                .when(a["row_index"] > b["row_index"], 1)
                .otherwise(0),
            ).alias("__rows"),
            *[
                F.first(c).alias(c)
                for c in carried
                if c not in ("before", "before_null", "after", "after_null")
            ],
        )
        .withColumn("row_index", F.lit(0))
        .withColumn("before", F.lit(None).cast("map<string,string>"))
        .withColumn("before_null", F.lit(None).cast("map<string,boolean>"))
        .withColumn("after", F.lit(None).cast("map<string,string>"))
        .withColumn("after_null", F.lit(None).cast("map<string,boolean>"))
    )
    return others.unionByName(packed.select(*others.columns))


def encode_ops_distributed(envelope: DataFrame, registry) -> DataFrame:
    """Envelope rows → protobuf Payload chunks, encoded in parallel:
    ``mapInArrow`` over every input partition (``Payload``'s repeated
    field makes each op's tagged bytes independently encodable; the
    payload body is their plain concatenation). Sort keys ride along
    so the caller can impose the K1 total order AFTER the parallel
    encode (:func:`total_order`). Each task serializes a TableDef
    once per (db, table, schema_version)
    (:class:`~dolphinbeat_spark.sinks.wire_protocol.OperationEncoder`)."""
    import pyarrow as pa

    from dolphinbeat_spark.sinks import wire_protocol as wp

    def encode(batches):
        enc = wp.OperationEncoder(registry)
        for batch in batches:
            rows = _encoder_rows(batch)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r.get("log_name") for r in rows], pa.string()),
                    pa.array([r.get("log_pos") for r in rows], pa.int64()),
                    pa.array([r["op_type"] for r in rows], pa.string()),
                    pa.array([r.get("row_index") or 0 for r in rows], pa.int32()),
                    pa.array([wp.payload_chunk(enc(r)) for r in rows], pa.binary()),
                ],
                names=["log_name", "log_pos", "op_type", "row_index", "chunk"],
            )

    return envelope.mapInArrow(
        encode,
        schema=(
            "log_name string, log_pos long, op_type string, "
            "row_index int, chunk binary"
        ),
    )


def _encoder_rows(batch) -> list[dict]:
    """A RecordBatch as row dicts for the wire encoder, converted
    column-wise through numpy (an order of magnitude faster than
    ``Array.to_pylist``). Integer NULLs read as 0: the encoder writes
    both as the proto3 default. Map columns are read from each
    MapArray's flat keys/items/offsets — one dict per non-empty cell,
    instead of pandas' per-cell conversion."""
    import pyarrow as pa

    cols = []
    for arr in batch.columns:
        if pa.types.is_map(arr.type):
            offs = arr.offsets.to_numpy().tolist()
            keys, items = _pylist(arr.keys), _pylist(arr.items)
            cells = [
                dict(zip(keys[a:b], items[a:b])) if b > a else None
                for a, b in zip(offs, offs[1:])
            ]
            if arr.null_count:
                cells = [c if ok else None
                         for c, ok in zip(cells, _pylist(arr.is_valid()))]
        else:
            cells = _pylist(arr)
        cols.append(cells)
    names = batch.schema.names
    return [dict(zip(names, vals)) for vals in zip(*cols)]


def _pylist(arr) -> list:
    """One Arrow column as Python values (integer NULLs as 0)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    if pa.types.is_integer(t):
        return pc.fill_null(arr, 0).to_numpy().tolist()
    if pa.types.is_string(t) or pa.types.is_boolean(t):
        return arr.to_numpy(zero_copy_only=False).tolist()
    return arr.to_pylist()  # nested: the progress struct, packed rows


def decode_protobuf_messages(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """The Spark restatement of the reference's kafka-consumer tool
    (``cmd/tools/kafka-consumer/main.go`` → client decoder): decode a
    DataFrame of protobuf Kafka message bytes back into operation rows.

    The decode chain (seq-successor dedup → fragment reassembly →
    zlib → Payload unmarshal) is inherently SEQUENTIAL per producer —
    that's the contract, not an implementation detail — so it runs as
    ``applyInPandas`` grouped by producer_id: one ordered chain per
    producer, parallel ACROSS producers (and trivially across topics
    when more grouping keys are added). A light map first extracts
    (producer_id, seq) from each message so the shuffle groups by the
    real producer key.

    Output: one row per decoded op with its message bookkeeping
    (producer_id, msg seq range via group end, op index within group).
    """
    import pandas as pd

    from dolphinbeat_spark.sinks import wire_protocol as wp

    def head(batches):
        for pdf in batches:
            out = {"producer_id": [], "seq": [], "value": []}
            for v in pdf[value_col]:
                raw = bytes(v)
                try:
                    h = wp.decode_message(raw)
                    out["producer_id"].append(h["producer_id"])
                    out["seq"].append(h["seq"])
                except Exception:  # noqa: BLE001 - unreadable envelope:
                    # route to the dead-letter producer group (-1); the
                    # decode stage emits it as an op_type='corrupt' row
                    # instead of the task crash-looping here
                    out["producer_id"].append(-1)
                    out["seq"].append(0)
                out["value"].append(raw)
            yield pd.DataFrame(out)

    headed = messages.mapInPandas(
        head, schema="producer_id long, seq long, value binary"
    )

    out_schema = (
        "producer_id long, end_seq long, op_index int, row_index int, "
        "op_type string, "
        "server_id long, timestamp long, log_pos long, gtid string, "
        "db string, table string, statement string, next_log_name string, "
        "progress_gset string, "
        "before map<string,string>, before_null map<string,boolean>, "
        "after map<string,string>, after_null map<string,boolean>"
    )

    def decode(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("seq")
        dec = wp.OperationDecoder()
        rows = []
        for _, r in pdf.iterrows():
            if int(r["producer_id"]) == -1:  # unreadable envelope (head)
                rows.append(
                    (-1, None, 0, 0)
                    + corrupt_row_tail(ValueError("unreadable Message envelope"), 0)
                )
                continue
            try:
                res = dec.feed(bytes(r["value"]))
            except Exception as ex:  # noqa: BLE001 - corrupt payload
                rows.append(
                    (int(r["producer_id"]), None, 0, 0)
                    + corrupt_row_tail(ex, int(r["seq"]))
                )
                continue
            if res is None:
                continue
            for i, op in enumerate(res.ops):
                for j, tail in enumerate(op_row_tails(op)):
                    rows.append((int(r["producer_id"]), res.end_seq, i, j) + tail)
        return pd.DataFrame(
            rows,
            columns=["producer_id", "end_seq", "op_index", "row_index"] + OP_TAIL_COLS,
        )

    return headed.groupBy("producer_id").applyInPandas(decode, out_schema)


#: decoded-op columns shared by the batch and streaming consumers
OP_TAIL_COLS = [
    "op_type", "server_id", "timestamp", "log_pos", "gtid", "db", "table",
    "statement", "next_log_name", "progress_gset",
    "before", "before_null", "after", "after_null",
]


def corrupt_row_tail(ex: Exception, pos: int) -> tuple:
    """Dead-letter row for a message the decode chain rejects
    (truncated varint, bad wiretype, zlib failure, mid-group jump):
    op_type='corrupt', the error in ``statement``, the transport
    coordinate in ``log_pos`` — the stream CONTINUES past it instead
    of crash-looping on one bad Kafka message. If the Message envelope
    itself parsed, the seq chain already advanced, so subsequent
    groups decode; an unreadable envelope can't advance the chain
    (strict like the reference) and the dead letter is the operator's
    signal to reset the consumer at a known seq."""
    return (
        "corrupt", None, None, pos, None, None, None,
        f"{type(ex).__name__}: {ex}", None, None,
        None, None, None, None,
    )


def op_row_tails(op: dict) -> list:
    """Flatten one decoded protobuf Operation into consumer row tails,
    ONE PER ROW IMAGE — the reference producer packs every row of a
    RowsEvent into a single Operation (operation.go:33-73, repeated
    ``Row rows = 14``), so a multi-row INSERT/UPDATE/DELETE must fan
    out here rather than truncate to the first image. Positional
    Column lists become the envelope's named image maps via the op's
    own TableDef column order (the reference's re-typing contract:
    consumers resolve positions through the embedded table def), so
    decoded ops feed typed_view/apply_changes directly. Ops with no
    rows (DDL, begin/commit, heartbeat) yield one tail with null
    images."""
    prog = op.get("progress") or {}
    table = op.get("table") or {}
    col_names = [c["name"] for c in table.get("columns", [])]
    head = (
        op["op_type"], op["server_id"], op["timestamp"], op["log_pos"],
        op.get("gtid"), table.get("database") or op.get("database"),
        table.get("name"), op.get("statement"), op.get("next_log_name"),
        prog.get("gset"),
    )
    rows = op.get("rows") or []
    if not rows:
        return [head + (None, None, None, None)]
    tails = []
    for row in rows:
        before = before_null = after = after_null = None
        if row.get("before"):
            before = {n: c["value"] for n, c in zip(col_names, row["before"])}
            before_null = {n: c["is_null"] for n, c in zip(col_names, row["before"])}
        if row.get("after"):
            after = {n: c["value"] for n, c in zip(col_names, row["after"])}
            after_null = {n: c["is_null"] for n, c in zip(col_names, row["after"])}
        tails.append(head + (before, before_null, after, after_null))
    return tails


class ProtobufKafkaSink(_KafkaSink):
    """The reference's ACTUAL wire contract (K5/K7 drop-in): protobuf
    ``Message``/``Payload``/``Operation`` values with optional in-band
    zlib and IPv4-style fragmentation — a stock reference Go client
    (``sink/kafka/client/go/decoder.go``) can consume the topic.

    Differences from :class:`JsonKafkaSink`: seq is per Kafka MESSAGE
    (fragment), not per op — exactly the reference's numbering
    (kafka.go:421-430) — and one message carries a Payload of up to
    ``ops_per_payload`` ops. Replay determinism is unchanged: same
    batch + same recorded base_seq → byte-identical messages, so
    at-least-once transport + client seq-dedup = exactly-once.

    Ops encode in the batch's own partitions (one task per archived
    file on a file-source replay) and the driver sorts the encoded
    chunks before framing them, so the batch's encoded bytes are what
    the driver holds — the memory bound of the produce loop. The batch
    itself is materialized once before the encode (``localCheckpoint``:
    lost executors fail the batch, and Structured Streaming replays
    it)."""

    def __init__(
        self,
        meta_dir: str,
        registry,
        produce,
        producer_id: int = 1,
        ops_per_payload: int = 128,
        max_payload_size: int = 1 << 20,
        compression: str = "none",
        pack_rows: bool = False,
    ):
        from dolphinbeat_spark.sinks import wire_protocol as wp

        super().__init__(meta_dir, produce, producer_id)
        self.registry = registry
        self.ops_per_payload = ops_per_payload
        self.max_payload_size = max_payload_size
        #: pack_rows=True regroups multi-row events into ONE Operation
        #: with repeated Row images — the reference producer's exact
        #: wire shape (operation.go:33-73); default False keeps the
        #: shuffle-free one-op-per-row path (both decode identically)
        self.pack_rows = pack_rows
        self.compression = {
            "none": wp.COMPRESSION_NONE, "zlib": wp.COMPRESSION_ZLIB,
            "gzip": wp.COMPRESSION_GZIP,
        }[compression]

    def _encode(self, batch_df: DataFrame):
        # decode the batch first (one job), then encode in parallel —
        # one task per partition. Two jobs, not one pipelined stage: a
        # stage with a Python source AND a Python encode holds two
        # Python workers per task; apart, the decode's workers serve
        # the encode
        batch_df = batch_df.localCheckpoint()
        if self.pack_rows:
            batch_df = pack_multirow_events(batch_df)
        return encode_ops_distributed(batch_df, self.registry).toArrow()

    def _messages(self, ordered, base: int) -> list[tuple[int, bytes]]:
        from dolphinbeat_spark.sinks import wire_protocol as wp

        return wp.build_messages(
            ordered.column("chunk").to_pylist(),
            base,
            self.producer_id,
            ops_per_payload=self.ops_per_payload,
            max_payload_size=self.max_payload_size,
            compression=self.compression,
        )
