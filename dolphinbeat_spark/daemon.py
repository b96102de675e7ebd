"""The daemon entry: the reference's TOML-configured process shape
(``cmd/dolphinbeat/main.go`` + ``config.go:21-97``) as a Spark driver
program — the surface a reference user switches to without relearning
their deployment: same config keys, same sink blocks, same control
port.

``python -m dolphinbeat_spark --config dolphinbeat.toml`` assembles:

- the binlog streaming source from ``mysql_addr``/``server_id``/
  ``flavor``/``gtid_enabled`` (+ optional ``shard_count`` — this
  engine's throughput option beyond the reference);
- the schema registry from ``[schema_tracker] dir`` (JSON snapshot,
  replaces boltdb);
- ONE streaming query that reads the source once per micro-batch and
  hands the batch to every enabled ``[[sink]]`` block in config order,
  each through its include/exclude regexes (F1/F2)
  (``streaming/pipeline.build_pipeline``). Under ``[checkpoint] dir``
  the query's Spark checkpoint is ``_stream`` and each sink's own
  state (a kafka block's ``_seq_meta``) is ``<sink name>``; a root
  holding an older per-query checkpoint is refused
  (:class:`CheckpointLayoutError`);
- the HTTP control surface on ``[http_server] addr`` (/status,
  /schema, /ddl/*, /metrics, /debug/pprof);
- ``[election]``: refused with a pointer — driver supervision belongs
  to the cluster manager (SURVEY §7.3's documented drop of C9).

Sink type mapping (reference sink registry → this engine):

- ``stdout``  → ordered, seq-stamped parquet (``OrderedFileSink``, one
  file per batch under ``cfg.out_dir``) — the stdout sink's durable
  twin; O1's console form is a one-line swap.
- ``kafka``   → ``ProtobufKafkaSink`` (the reference's wire framing,
  ``cfg.encoder = "protobuf"``, K5/K7) or ``JsonKafkaSink``
  (``"json"``), producing through a ``KafkaTransport`` that records a
  batch only after the broker confirmed all of its messages;
  ``broker_list``/``topic``/``partition``/``compression``/
  ``max_payload_size`` keys match the reference's ``[sink.cfg]``.

``--dry-run`` assembles and validates everything, prints the resolved
plan, and exits without needing a live MySQL — the config-review step
an operator runs before deploying.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import dataclass, field
from pathlib import Path

#: the one Spark checkpoint's directory under ``[checkpoint] dir``
STREAM_CHECKPOINT = "_stream"


class CheckpointLayoutError(RuntimeError):
    """The checkpoint root holds a per-query checkpoint of the older
    one-query-per-sink layout, which the one daemon query cannot
    resume from without skipping or replaying data."""


@dataclass
class SinkBlock:
    type: str
    name: str
    enabled: bool = True
    include_table: list[str] = field(default_factory=list)
    exclude_table: list[str] = field(default_factory=list)
    cfg: dict = field(default_factory=dict)


@dataclass
class DaemonConfig:
    mysql_addr: str = ""
    mysql_user: str = ""
    mysql_password: str = ""
    server_id: int = 0
    flavor: str = "mysql"
    gtid_enabled: bool = True
    shard_count: int = 0  # 0/1 = single reader; N>1 = shard-by-table
    #: simple = driver-side decode; arrow = executor-side shards;
    #: file = recorded-binlog backfill (binlog_file_path, no socket)
    reader: str = "simple"
    #: reader = "file": one archived binlog, or a DIRECTORY holding a
    #: series (lexical order, rotate-stitched)
    binlog_file_path: str = ""
    checkpoint_dir: str = "./ckp"
    tracker_dir: str = "./schema"
    http_addr: str = ""
    election_enabled: bool = False
    sinks: list[SinkBlock] = field(default_factory=list)

    @classmethod
    def from_toml(cls, path: str | Path) -> "DaemonConfig":
        import tomllib

        raw = tomllib.loads(Path(path).read_text())
        ckp = raw.get("checkpoint", {})
        tracker = raw.get("schema_tracker", {})
        http = raw.get("http_server", {})
        election = raw.get("election", {})
        sinks = [
            SinkBlock(
                type=s.get("type", ""),
                name=s.get("name", ""),
                enabled=bool(s.get("enabled", True)),
                include_table=list(s.get("include_table", [])),
                exclude_table=list(s.get("exclude_table", [])),
                cfg=dict(s.get("cfg", {})),
            )
            for s in raw.get("sink", [])
        ]
        return cls(
            mysql_addr=raw.get("mysql_addr", ""),
            mysql_user=raw.get("mysql_user", ""),
            mysql_password=raw.get("mysql_password", ""),
            server_id=int(raw.get("server_id", 0)),
            flavor=raw.get("flavor", "mysql"),
            gtid_enabled=bool(raw.get("gtid_enabled", True)),
            shard_count=int(raw.get("shard_count", 0)),
            reader=raw.get("reader", "simple"),
            binlog_file_path=raw.get("binlog_file_path", ""),
            checkpoint_dir=ckp.get("dir", "./ckp"),
            tracker_dir=tracker.get("dir", "./schema"),
            http_addr=http.get("addr", ""),
            election_enabled=bool(election.get("enabled", False)),
            sinks=sinks,
        )

    def validate(self) -> list[str]:
        """Config-review errors (the reference fails fast in
        initConfig; same contract)."""
        errors = []
        if self.election_enabled:
            errors.append(
                "[election] is not served by this engine: run ONE driver "
                "per source under your cluster manager's supervision "
                "(restart policy = the leader lease); see COVERAGE.md C9"
            )
        if self.reader not in ("simple", "arrow", "file"):
            errors.append(
                f"reader must be simple, arrow, or file, got {self.reader!r}"
            )
        if self.reader == "file" and not self.binlog_file_path:
            errors.append("reader = 'file' needs binlog_file_path")
        if self.reader != "file" and self.binlog_file_path:
            errors.append("binlog_file_path is only valid with reader = 'file'")
        if self.flavor not in ("mysql", "mariadb"):
            errors.append(f"flavor must be mysql or mariadb, got {self.flavor!r}")
        if self.http_addr:
            try:
                _split_addr(self.http_addr)
            except ValueError as ex:
                errors.append(str(ex))
        names = [s.name for s in self.sinks if s.enabled]
        if len(names) != len(set(names)):
            errors.append(f"sink names must be unique, got {names}")
        for s in self.sinks:
            if not s.enabled:
                continue
            # the name is the sink's state directory under [checkpoint] dir
            if s.name in ("", ".", "..", STREAM_CHECKPOINT) or Path(s.name).name != s.name:
                errors.append(
                    f"sink {s.name!r}: name must be one non-empty path component, "
                    f"not {STREAM_CHECKPOINT!r}")
            if s.type not in ("stdout", "kafka"):
                errors.append(f"sink {s.name!r}: unknown type {s.type!r}")
            if s.type == "kafka" and not s.cfg.get("broker_list"):
                errors.append(f"sink {s.name!r}: kafka needs cfg.broker_list")
            if s.type == "kafka" and not s.cfg.get("topic"):
                errors.append(f"sink {s.name!r}: kafka needs cfg.topic")
            if s.type == "kafka":
                enc = s.cfg.get("encoder", "protobuf")
                comp = s.cfg.get("compression", "none")
                if enc not in ("protobuf", "json"):
                    errors.append(f"sink {s.name!r}: encoder must be protobuf or json, got {enc!r}")
                if comp not in ("none", "zlib", "gzip"):
                    errors.append(
                        f"sink {s.name!r}: compression must be none, zlib or gzip, got {comp!r}")
                elif enc == "json" and comp != "none":
                    errors.append(
                        f"sink {s.name!r}: the json encoder takes compression none, got {comp!r}")
        return errors


def source_options(cfg: DaemonConfig) -> dict:
    """The binlog source's option map from the daemon config."""
    host, _, port = cfg.mysql_addr.partition(":")
    opts = {
        "host": host,
        "port": port or "3306",
        "user": cfg.mysql_user,
        "password": cfg.mysql_password,
        "server_id": str(cfg.server_id),
        "flavor": cfg.flavor,
        # false = resume by file/pos only, never auto_position
        "gtid_enabled": "true" if cfg.gtid_enabled else "false",
        "schema_snapshot": str(Path(cfg.tracker_dir) / "schema_snapshot.json"),
    }
    return opts


def resolve_plan(cfg: DaemonConfig) -> dict:
    """The assembled (not started) daemon plan — what --dry-run prints
    and what run() starts. Pure: no Spark, no sockets."""
    plan = {
        "source": {
            "options": source_options(cfg),
            # the arrow/file readers shard INTERNALLY via executor
            # partitions: one stream, N tasks — not N driver readers
            "readers": (
                1 if cfg.reader in ("arrow", "file") else max(1, cfg.shard_count)
            ),
            "reader": cfg.reader,
            "mode": (
                f"file-replay({cfg.binlog_file_path})"
                if cfg.reader == "file"
                else f"arrow-executor-shards({max(1, cfg.shard_count)})"
                if cfg.reader == "arrow"
                else "sharded-by-table" if cfg.shard_count > 1 else "single-reader"
            ),
        },
        "sinks": [],
        "http": {"addr": cfg.http_addr or None},
        "checkpoint_root": cfg.checkpoint_dir,
        "stream_checkpoint": str(Path(cfg.checkpoint_dir) / STREAM_CHECKPOINT),
        # the startup probe sequence the live readers run against the
        # server BEFORE consuming events (RUNBOOK.md §2) — printed by
        # --dry-run so the first real deployment reviews the exact
        # statements and failure actions ahead of time
        "probes": [] if cfg.reader == "file" else [
            {
                "probe": "row-format assert",
                "statement": "SHOW VARIABLES LIKE 'binlog_format'",
                "requires": "ROW",
                "on_failure": "refuse startup (reference canal.go:368-377)",
            },
            {
                "probe": "master position",
                "statement": (
                    "SHOW BINARY LOG STATUS (>=8.4; falls back to "
                    "SHOW MASTER STATUS) + SELECT @@GLOBAL.GTID_EXECUTED "
                    "+ SELECT @@server_id"
                ),
                "use": (
                    "start-from-now bootstrap offset; polled as the S5 "
                    "master-position monitor"
                ),
            },
            {
                "probe": "retention / resumability",
                "statement": "SHOW BINARY LOGS",
                "use": (
                    "a checkpointed offset resumes iff its file is still "
                    "retained; otherwise take a fresh snapshot + "
                    "archived-binlog backfill (reader='file'), not a resume"
                ),
            },
            {
                "probe": "start mode",
                "resolved": (
                    f"gtid auto_position (flavor={cfg.flavor})"
                    if cfg.gtid_enabled
                    else "file/pos resume only (gtid_enabled=false)"
                ),
            },
        ],
    }
    for s in cfg.sinks:
        if not s.enabled:
            continue
        entry = {
            "name": s.name,
            "type": s.type,
            "include": s.include_table,
            "exclude": s.exclude_table,
            "checkpoint": str(Path(cfg.checkpoint_dir) / s.name),
        }
        if s.type == "stdout":
            entry["out_dir"] = s.cfg.get("out_dir", str(Path("./out") / s.name))
        if s.type == "kafka":
            entry.update(
                {
                    "bootstrap": s.cfg.get("broker_list"),
                    "topic": s.cfg.get("topic"),
                    "partition": int(s.cfg.get("partition", 0)),
                    "encoder": s.cfg.get("encoder", "protobuf"),
                    "compression": s.cfg.get("compression", "none"),
                    "max_payload_size": int(s.cfg.get("max_payload_size", 1 << 20)),
                }
            )
        plan["sinks"].append(entry)
    return plan


def run(cfg: DaemonConfig, spark=None, source_format: str = "dolphinbeat_binlog",
        source_options_extra: dict | None = None, trigger_once: bool = False):
    """Start the daemon: source stream(s) → one query fanning out to
    every sink + control server. Returns (spark, query,
    control_server). Blocking is the caller's choice
    (``spark.streams.awaitAnyTermination()``). Raises
    :class:`CheckpointLayoutError`, before anything starts, when the
    checkpoint root holds an older per-query checkpoint.

    ``source_format``/``source_options_extra``/``trigger_once`` let
    the integration tests drive the EXACT runtime wiring against a
    loopback master or the scripted fake-binlog source (register it
    first)."""
    from functools import reduce

    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.session import get_spark
    from dolphinbeat_spark.sources.binlog_source import BinlogDataSource
    from dolphinbeat_spark.streaming.http_server import ControlServer
    from dolphinbeat_spark.streaming.metrics import PipelineMetrics
    from dolphinbeat_spark.streaming.pipeline import build_pipeline

    plan = resolve_plan(cfg)
    old = sorted(str(p.parent) for p in Path(cfg.checkpoint_dir).glob("*/offsets")
                 if p.parent.name != STREAM_CHECKPOINT)
    if old:
        raise CheckpointLayoutError(
            f"{old[0]} is a per-query checkpoint of the one-query-per-sink layout; "
            f"see RUNBOOK.md §4 to migrate (all found: {old})")
    spark = spark or get_spark("dolphinbeat")
    if cfg.reader == "arrow" and source_format == "dolphinbeat_binlog":
        source_format = "dolphinbeat_binlog_arrow"
    if cfg.reader == "file" and source_format == "dolphinbeat_binlog":
        # recorded-binlog backfill: same envelope, same sinks, no socket
        from dolphinbeat_spark.sources.binlog_file import (
            BINLOG_FILE_SOURCE_NAME,
            register_binlog_file_source,
        )

        source_format = BINLOG_FILE_SOURCE_NAME
        register_binlog_file_source(spark)
    if source_format == "dolphinbeat_binlog":
        spark.dataSource.register(BinlogDataSource)
    if source_format == "dolphinbeat_binlog_arrow":
        from dolphinbeat_spark.sources.binlog_source import ArrowBinlogDataSource

        spark.dataSource.register(ArrowBinlogDataSource)
    metrics = PipelineMetrics()
    spark.streams.addListener(metrics)

    # shard-by-table: N reader instances over the same binlog, unioned
    # into one streaming plan (Structured Streaming tracks each
    # source's offsets independently in the shared checkpoint)
    n_readers = plan["source"]["readers"]
    shards = []
    for i in range(n_readers):
        opts = dict(plan["source"]["options"])
        opts.update(source_options_extra or {})
        if cfg.reader == "file":
            opts["binlog_file_path"] = cfg.binlog_file_path
            if cfg.shard_count > 1:
                opts.update(shard_count=str(cfg.shard_count))
            # unlike the live readers, an archived file CARRIES its own
            # DDL from position 4 — a tracker snapshot is an optional
            # head start, not a requirement (the live arrow path
            # instead fails loudly on a configured-but-missing snapshot
            # because mid-stream startup has no DDL history to replay)
            snap = opts.pop("schema_snapshot", "")
            if snap and Path(snap).exists():
                opts["schema_snapshot_json"] = Path(snap).read_text()
        if cfg.reader == "arrow":
            if cfg.shard_count > 1:
                opts.update(shard_count=str(cfg.shard_count))
            # executor-side decode cannot read a driver-local snapshot
            # path: ship the snapshot CONTENT in the options instead.
            # read_text() raising on a missing configured snapshot is
            # deliberate — the simple-reader path fails loudly at
            # startup too; silently shipping an empty registry would
            # decode JSON columns as garbage with no error anywhere
            snap = opts.pop("schema_snapshot", "")
            if snap:
                opts["schema_snapshot_json"] = Path(snap).read_text()
        if n_readers > 1:
            opts.update(shard_index=str(i), shard_count=str(n_readers))
        shards.append(
            spark.readStream.format(source_format).options(**opts).load()
        )
    stream = reduce(lambda a, b: a.unionByName(b), shards)

    sinks = [(s["name"], s["include"], s["exclude"], _make_sink(s, cfg))
             for s in plan["sinks"]]
    query = build_pipeline(stream, sinks, plan["stream_checkpoint"], metrics, trigger_once)

    snap = Path(cfg.tracker_dir) / "schema_snapshot.json"
    registry = SchemaRegistry.load(str(snap)) if snap.exists() else SchemaRegistry()
    server = None
    if cfg.http_addr:
        host, port = _split_addr(cfg.http_addr)
        server = ControlServer(
            registry=registry, metrics=metrics, host=host, port=port,
        )
        server.serve()
    return spark, query, server


def _make_sink(s: dict, cfg: DaemonConfig):
    """One resolved [[sink]] block → its ``(batch_df, batch_id)``
    callable: ``OrderedFileSink`` for stdout; for kafka, the block's
    encoder (``ProtobufKafkaSink`` with in-band compression and
    fragmentation at ``max_payload_size``, or ``JsonKafkaSink``) over a
    ``KafkaTransport`` on a confluent producer, recording its
    ``_seq_meta`` in the block's state directory."""
    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.sinks import ordered

    if s["type"] == "stdout":
        return ordered.OrderedFileSink(s["out_dir"])
    meta_dir = str(Path(s["checkpoint"]) / "_seq_meta")
    transport = ordered.KafkaTransport(
        ordered._confluent_producer(s["bootstrap"]), s["topic"], s["partition"]
    )
    if s["encoder"] == "json":
        return ordered.JsonKafkaSink(meta_dir, produce=transport)
    snap = Path(cfg.tracker_dir) / "schema_snapshot.json"
    return ordered.ProtobufKafkaSink(
        meta_dir=meta_dir,
        registry=SchemaRegistry.load(str(snap)) if snap.exists() else SchemaRegistry(),
        produce=transport,
        compression=s["compression"],
        max_payload_size=s["max_payload_size"],
    )


def _split_addr(addr: str) -> tuple[str, int]:
    host, sep, port = addr.rpartition(":")
    if not sep or not port.isdigit():
        raise ValueError(f"http_server addr must be host:port, got {addr!r}")
    return host or "0.0.0.0", int(port)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dolphinbeat_spark")
    p.add_argument("--config", required=True, help="TOML config (reference-compatible keys)")
    p.add_argument("--dry-run", action="store_true",
                   help="validate + print the resolved plan, start nothing")
    args = p.parse_args(argv)

    cfg = DaemonConfig.from_toml(args.config)
    errors = cfg.validate()
    if errors:
        for e in errors:
            print(f"config error: {e}", file=sys.stderr)
        return 1
    plan = resolve_plan(cfg)
    if args.dry_run:
        print(json.dumps(plan, indent=2))
        return 0
    spark, _query, _server = run(cfg)  # pragma: no cover - needs live MySQL
    spark.streams.awaitAnyTermination()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
