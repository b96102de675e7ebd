"""The CDC streaming pipeline: source → filters → fan-out → sinks.

Spark restatement of the reference's daemon path (SURVEY.md §3.1):
the handler mux (R1) becomes N streaming queries over one source,
each with its own checkpointLocation (so each sink resumes from its
own progress — replaces the reference's checkpoint manager C1-C3 and
per-sink dedup F3); per-sink include/exclude filters (F2) are plain
``filter_tables`` calls; ordered delivery is ``sinks/ordered.py``'s
one ``SeqStampedSink`` path (``OrderedFileSink`` here; the daemon's
kafka blocks run its Kafka encoders on the same path).

Event-time operators (absent in the reference, SURVEY.md §2.8 —
north-star additions): watermarked tumbling windows and session
windows over the envelope stream.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dolphinbeat_spark.operators.filters import filter_tables
from dolphinbeat_spark.sinks.ordered import OrderedFileSink


@dataclass
class SinkSpec:
    """One [[sink]] block (reference config, cmd/dolphinbeat/config.go)."""

    name: str
    out_dir: str
    checkpoint_dir: str
    include: list[str] = field(default_factory=list)
    exclude: list[str] = field(default_factory=list)
    producer_id: int = 1


def build_pipeline(
    envelope_stream: DataFrame,
    sinks: list[SinkSpec],
    trigger_once: bool = True,
) -> list[StreamingQuery]:
    """Fan one envelope stream out to N ordered sinks (R1 + F2 + K1).
    The op counters are :func:`start_op_counts`' own query."""
    queries = []
    for spec in sinks:
        filtered = filter_tables(envelope_stream, spec.include, spec.exclude)
        writer = (
            filtered.writeStream.foreachBatch(
                OrderedFileSink(spec.out_dir, spec.producer_id)
            )
            .option("checkpointLocation", spec.checkpoint_dir)
            .queryName(spec.name)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        queries.append(writer.start())
    return queries


def start_op_counts(
    envelope_stream: DataFrame,
    metrics,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """The one op-counting query of a pipeline: ``metrics`` (a
    PipelineMetrics) receives per-op-type counts once per batch of the
    UNFILTERED stream — daemon-level counters like the reference's
    (metrics.go:21-51 count at the canal, before any sink filter), so
    N sinks of any kind do NOT multiply trx_total/iud_total by N.
    ``checkpoint_dir`` should be named independently of any sink:
    reordering or renaming sinks must not relocate it (that would
    recount retained history into the counters on restart)."""

    def count_ops(batch_df, batch_id) -> None:
        # one tiny agg per batch: op-type counts → counter families
        metrics.record_ops(
            {
                r["op_type"]: r["n"]
                for r in batch_df.groupBy("op_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        )

    writer = (
        envelope_stream.writeStream.foreachBatch(count_ops)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("pipeline_metrics")
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
