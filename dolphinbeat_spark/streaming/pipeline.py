"""The CDC streaming pipeline: source → filters → fan-out → sinks.

Spark restatement of the reference's daemon path (SURVEY.md §3.1):
the handler mux (R1, one event loop broadcasting each event to N
sinks) becomes ONE streaming query over the source whose
``foreachBatch`` hands the same micro-batch to every sink in turn
(SURVEY §2.4). The source is read and decoded once per batch, and the
query's one checkpoint replaces the reference's checkpoint manager
(C1-C3). Per-sink include/exclude filters (F2) are plain
``filter_tables`` calls; resume dedup (F3) is each sink's own replay
record (``sinks/ordered.py``'s ``_seq_meta``: a replayed batch id
reuses its base seq, so a batch replayed after sink k of N committed
re-delivers identical output to sinks 1..k).

Event-time operators (absent in the reference, SURVEY.md §2.8 —
north-star additions): watermarked tumbling windows and session
windows over the envelope stream.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dolphinbeat_spark.operators.filters import filter_tables

#: ``(name, include, exclude, sink)``: one [[sink]] block; ``sink`` is
#: any ``(batch_df, batch_id)`` callable
Sink = tuple[str, list[str], list[str], Callable[[DataFrame, int], None]]


def build_pipeline(
    envelope_stream: DataFrame,
    sinks: list[Sink],
    checkpoint_dir: str,
    metrics=None,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Fan one envelope stream out to N sinks from one query (R1 + F2).

    Per batch: persist it, count its op types on the UNFILTERED batch
    (the count also fills the cache), call each sink in order on its
    filtered view with the same ``batch_id``, and only after every sink
    returned fold the counts into ``metrics`` (a PipelineMetrics), so
    its trx_total/iud_total are what the sinks committed — counted once
    per batch, like the reference's counters at the canal
    (metrics.go:21-51), however many sinks there are. A sink that
    raises fails the batch for every sink; Structured Streaming then
    replays it under the same id."""

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.persist()
        try:
            counts = {
                r["op_type"]: r["n"]
                for r in batch.groupBy("op_type").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            for _name, include, exclude, sink in sinks:
                sink(filter_tables(batch, include, exclude), batch_id)
            if metrics is not None:
                metrics.record_ops(counts)
        finally:
            batch.unpersist()

    writer = (
        envelope_stream.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("dolphinbeat")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_op_counts(
    envelope_stream: DataFrame, window: str = "10 seconds", watermark: str = "30 seconds"
) -> DataFrame:
    """Watermarked tumbling-window op counts by (db, table, op_type).
    Late data beyond the watermark is dropped (state is bounded)."""
    with_ts = envelope_stream.withColumn(
        "event_time", F.timestamp_seconds(F.col("timestamp"))
    ).withWatermark("event_time", watermark)
    return (
        with_ts.filter(F.col("op_type").isin("insert", "update", "delete"))
        .groupBy(F.window("event_time", window), "db", "table", "op_type")
        .agg(F.count(F.lit(1)).alias("n_ops"))
        .select(
            F.col("window.start").alias("window_start"),
            "db",
            "table",
            "op_type",
            "n_ops",
        )
    )


def session_windowed_activity(
    events_stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming session windows (F.session_window) — the streaming
    twin of operators/sessions.py::sessionize."""
    with_wm = events_stream.withWatermark("ts", watermark)
    return (
        with_wm.groupBy(F.session_window("ts", gap).alias("session"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
