"""Daemon config surface tests (reference cmd/dolphinbeat/config.go
shape): TOML parse, validation errors, resolved plan, CLI dry-run."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from dolphinbeat_spark.daemon import DaemonConfig, resolve_plan, source_options

SAMPLE = Path(__file__).resolve().parent.parent / "dolphinbeat_spark" / "dolphinbeat.toml.sample"


def test_sample_config_parses_and_validates():
    cfg = DaemonConfig.from_toml(SAMPLE)
    assert cfg.mysql_addr == "127.0.0.1:3306"
    assert cfg.server_id == 1001
    assert cfg.flavor == "mysql" and cfg.gtid_enabled
    assert [s.name for s in cfg.sinks] == ["audit_files", "main_topic"]
    assert cfg.sinks[1].cfg["compression"] == "zlib"
    assert cfg.validate() == []


def test_resolved_plan_maps_reference_keys():
    cfg = DaemonConfig.from_toml(SAMPLE)
    plan = resolve_plan(cfg)
    assert plan["source"]["mode"] == "single-reader"
    opts = plan["source"]["options"]
    assert opts["host"] == "127.0.0.1" and opts["port"] == "3306"
    assert opts["server_id"] == "1001"
    kafka = next(s for s in plan["sinks"] if s["type"] == "kafka")
    assert kafka["bootstrap"] == "127.0.0.1:9092"
    assert kafka["topic"] == "my_topic"
    assert kafka["encoder"] == "protobuf"
    assert kafka["max_payload_size"] == 1 << 20
    # include/exclude regexes flow through to the sink spec (F1/F2)
    assert kafka["exclude"] == ["test\\.scratch_.*"]
    # one Spark checkpoint for the daemon's one query; each sink keeps
    # its own state directory under [checkpoint] dir
    assert plan["stream_checkpoint"].endswith("ckp/_stream")
    assert kafka["checkpoint"].endswith("ckp/main_topic")


def test_shard_count_selects_sharded_mode(tmp_path):
    text = SAMPLE.read_text().replace("shard_count = 0", "shard_count = 4")
    p = tmp_path / "c.toml"
    p.write_text(text)
    plan = resolve_plan(DaemonConfig.from_toml(p))
    assert plan["source"] == {**plan["source"], "mode": "sharded-by-table", "readers": 4}


def test_validation_errors(tmp_path):
    bad = SAMPLE.read_text().replace('flavor = "mysql"', 'flavor = "postgres"')
    bad = bad.replace('type = "stdout"', 'type = "mystery"')
    bad += '\n[election]\n  enabled = true\n'
    p = tmp_path / "bad.toml"
    p.write_text(bad)
    errors = DaemonConfig.from_toml(p).validate()
    joined = "\n".join(errors)
    assert "flavor" in joined
    assert "unknown type 'mystery'" in joined
    assert "[election]" in joined and "cluster manager" in joined
    # kafka block missing broker_list/topic also rejects
    nok = SAMPLE.read_text().replace('broker_list = "127.0.0.1:9092"', "")
    p2 = tmp_path / "nok.toml"
    p2.write_text(nok)
    assert any("broker_list" in e for e in DaemonConfig.from_toml(p2).validate())
    # malformed http addr is a CONFIG error (caught at review, not at
    # startup after the queries are already running)
    noport = SAMPLE.read_text().replace('addr = "127.0.0.1:8080"', 'addr = "127.0.0.1"')
    p3 = tmp_path / "noport.toml"
    p3.write_text(noport)
    assert any("host:port" in e for e in DaemonConfig.from_toml(p3).validate())


def test_gtid_enabled_flows_to_source_options(tmp_path):
    off = SAMPLE.read_text().replace("gtid_enabled = true", "gtid_enabled = false")
    p = tmp_path / "off.toml"
    p.write_text(off)
    assert source_options(DaemonConfig.from_toml(p))["gtid_enabled"] == "false"
    assert source_options(DaemonConfig.from_toml(SAMPLE))["gtid_enabled"] == "true"


def test_daemon_run_end_to_end_on_fake_binlog(spark, tmp_path, monkeypatch):
    """run() drives the EXACT runtime wiring — sharded-or-single
    source, one query fanning out to both file sinks, once-only
    metrics, control server — against the scripted fake-binlog source;
    only the MySQL socket goes unexecuted."""
    import urllib.request

    from dolphinbeat_spark import daemon
    from dolphinbeat_spark.daemon import run
    from dolphinbeat_spark.sources.binlog_fake import register_fake_binlog_source

    before, active = {q.id for q in spark.streams.active}, []
    make_sink = daemon._make_sink

    def counting_sink(s, cfg):
        sink = make_sink(s, cfg)

        def call(batch_df, batch_id):
            active.append({q.id for q in spark.streams.active} - before)
            sink(batch_df, batch_id)
        return call

    monkeypatch.setattr(daemon, "_make_sink", counting_sink)

    register_fake_binlog_source(spark)
    toml = f"""
mysql_addr = "127.0.0.1:3306"
server_id = 77
[checkpoint]
  dir = "{tmp_path}/ckp"
[schema_tracker]
  dir = "{tmp_path}/schema"
[http_server]
  addr = "127.0.0.1:0"
[[sink]]
  enabled = true
  type = "stdout"
  name = "all"
  [sink.cfg]
    out_dir = "{tmp_path}/out/all"
[[sink]]
  enabled = true
  type = "stdout"
  name = "fake_only"
  include_table = ["test\\\\.fake_t"]
  [sink.cfg]
    out_dir = "{tmp_path}/out/fake_only"
"""
    p = tmp_path / "daemon.toml"
    p.write_text(toml)
    cfg = DaemonConfig.from_toml(p)
    assert cfg.validate() == []
    sparksess, query, server = run(
        cfg, spark,
        source_format="dolphinbeat_binlog_fake",
        source_options_extra={"schema_snapshot": "", "n_trx": "6",
                              "rows_per_trx": "3",
                              # explicit start position: no live
                              # master to probe in the sandbox
                              "file": "binlog.000001", "pos": "4"},
        trigger_once=True,
    )
    try:
        query.awaitTermination(120)
        # two sinks, one streaming query while they run
        assert len(active) == 2 and all(a == {query.id} for a in active)
        assert not (tmp_path / "ckp" / "all").exists()
        assert (tmp_path / "ckp" / "_stream" / "offsets").is_dir()
        all_ops = spark.read.parquet(f"{tmp_path}/out/all/batch=*")
        by_op = {r["op_type"]: r["n"] for r in
                 all_ops.groupBy("op_type").count()
                 .withColumnRenamed("count", "n").collect()}
        assert by_op["insert"] == 18 and by_op["commit"] == 6
        assert by_op["ddl"] == 1
        # per-sink include filter applied: all 18 row ops are
        # test.fake_t (control markers pass through by design, F2)
        fake_only = spark.read.parquet(f"{tmp_path}/out/fake_only/batch=*")
        rows_only = fake_only.filter("op_type in ('insert','update','delete')")
        assert rows_only.count() == 18
        assert rows_only.filter("table <> 'fake_t'").count() == 0

        # daemon-level counters: counted ONCE despite two sinks
        # the metrics listener instance is attached inside run(); read
        # through the control server instead (the operator's view)
        port = server._httpd.server_address[1]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=5
        ) as r:
            text = r.read().decode()
        metrics = {
            parts[0]: float(parts[1])
            for parts in (ln.split() for ln in text.splitlines()
                          if ln and not ln.startswith("#"))
            if len(parts) == 2 and "{" not in parts[0]
        }
        assert metrics["trx_total"] == 6
        assert metrics["iud_total"] == 18
        assert metrics["ddl_total"] == 1
    finally:
        if server:
            server.stop()


def test_cli_dry_run_prints_plan():
    out = subprocess.run(
        [sys.executable, "-m", "dolphinbeat_spark", "daemon",
         "--config", str(SAMPLE), "--dry-run"],
        capture_output=True, text=True, timeout=120,
        cwd=str(SAMPLE.parent.parent),
    )
    assert out.returncode == 0, out.stderr
    plan = json.loads(out.stdout)
    assert {s["name"] for s in plan["sinks"]} == {"audit_files", "main_topic"}
    assert plan["http"]["addr"] == "127.0.0.1:8080"


def test_cli_dry_run_rejects_bad_config(tmp_path):
    p = tmp_path / "bad.toml"
    p.write_text(SAMPLE.read_text() + '\n[election]\n  enabled = true\n')
    out = subprocess.run(
        [sys.executable, "-m", "dolphinbeat_spark", "daemon",
         "--config", str(p), "--dry-run"],
        capture_output=True, text=True, timeout=120,
        cwd=str(SAMPLE.parent.parent),
    )
    assert out.returncode == 1
    assert "config error" in out.stderr


def test_daemon_run_with_arrow_reader(spark, tmp_path):
    """reader = "arrow" in the TOML routes the daemon through the
    executor-side Arrow source (one stream, shard partitions inside)
    — same sink outputs as the simple-reader wiring."""
    from dolphinbeat_spark.daemon import run
    from dolphinbeat_spark.sources.binlog_fake import (
        register_fake_arrow_binlog_source,
    )

    register_fake_arrow_binlog_source(spark)
    toml = f"""
mysql_addr = "127.0.0.1:3306"
server_id = 78
reader = "arrow"
shard_count = 3
[checkpoint]
  dir = "{tmp_path}/ckp"
[schema_tracker]
  dir = "{tmp_path}/schema"
[[sink]]
  enabled = true
  type = "stdout"
  name = "all"
  [sink.cfg]
    out_dir = "{tmp_path}/out/all"
"""
    p = tmp_path / "daemon.toml"
    p.write_text(toml)
    cfg = DaemonConfig.from_toml(p)
    assert cfg.validate() == []
    from dolphinbeat_spark.daemon import resolve_plan

    plan = resolve_plan(cfg)
    assert plan["source"]["mode"] == "arrow-executor-shards(3)"
    assert plan["source"]["readers"] == 1  # one stream, N executor tasks

    _, query, server = run(
        cfg, spark,
        source_format="dolphinbeat_binlog_fake_arrow",
        source_options_extra={"schema_snapshot": "", "n_trx": "5",
                              "rows_per_trx": "4"},
        trigger_once=True,
    )
    try:
        query.awaitTermination(120)
        all_ops = spark.read.parquet(f"{tmp_path}/out/all/batch=*")
        by_op = {r["op_type"]: r["n"] for r in
                 all_ops.groupBy("op_type").count()
                 .withColumnRenamed("count", "n").collect()}
        # control ops once (shard 0), 20 inserts exactly once
        assert by_op["insert"] == 20 and by_op["commit"] == 5
        assert by_op["ddl"] == 1 and by_op["rotate"] == 1
    finally:
        if server:
            server.stop()
        query.stop()


def test_daemon_file_reader_backfill(spark, tmp_path):
    """reader = 'file': the daemon replays an archived binlog through
    the full pipeline wiring (source registration, per-sink filters,
    checkpoints) — the backfill deployment shape, no socket anywhere."""
    from pathlib import Path as P

    from dolphinbeat_spark.daemon import DaemonConfig, SinkBlock, resolve_plan, run

    fixture = P(__file__).parent / "fixtures" / "replay.binlog"
    cfg = DaemonConfig(
        reader="file",
        binlog_file_path=str(fixture),
        checkpoint_dir=str(tmp_path / "ckp"),
        tracker_dir=str(tmp_path / "schema"),
        sinks=[
            SinkBlock(type="stdout", name="all", enabled=True,
                      cfg={"out_dir": str(tmp_path / "out")}),
        ],
    )
    assert cfg.validate() == []
    plan = resolve_plan(cfg)
    assert plan["source"]["mode"].startswith("file-replay(")
    assert plan["source"]["readers"] == 1
    spark_, query, server = run(cfg, spark=spark, trigger_once=True)
    query.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out" / "batch=*"))
    ops = {r["op_type"] for r in out.select("op_type").distinct().collect()}
    assert {"insert", "update", "delete", "ddl"} <= ops
    assert out.count() >= 16
    if server:
        server.stop()


def test_daemon_file_reader_validation():
    from dolphinbeat_spark.daemon import DaemonConfig

    assert any("binlog_file_path" in e
               for e in DaemonConfig(reader="file").validate())
    assert any("only valid" in e
               for e in DaemonConfig(binlog_file_path="/x").validate())


def test_dry_run_prints_probe_plan(tmp_path, capsys):
    """--dry-run surfaces the startup probe sequence (RUNBOOK.md §2):
    ROW-format assert, master-position probe, retention check, start
    mode — and the file reader (no socket) plans no probes."""
    import json

    from dolphinbeat_spark.daemon import DaemonConfig, main, resolve_plan

    cfg = tmp_path / "d.toml"
    cfg.write_text(
        'mysql_addr = "127.0.0.1:3306"\nserver_id = 9\n'
        '[[sink]]\ntype = "stdout"\nname = "s"\n'
    )
    assert main(["daemon", "--config", str(cfg), "--dry-run"][1:]) == 0
    plan = json.loads(capsys.readouterr().out)
    probes = {p["probe"] for p in plan["probes"]}
    assert {"row-format assert", "master position",
            "retention / resumability", "start mode"} <= probes
    row = next(p for p in plan["probes"] if p["probe"] == "row-format assert")
    assert row["requires"] == "ROW"
    mode = next(p for p in plan["probes"] if p["probe"] == "start mode")
    assert "auto_position" in mode["resolved"]

    # gtid off -> file/pos resume; file reader -> no socket, no probes
    fc = DaemonConfig(reader="file", binlog_file_path="x.binlog")
    assert resolve_plan(fc)["probes"] == []
    gc = DaemonConfig(gtid_enabled=False)
    mode = next(p for p in resolve_plan(gc)["probes"] if p["probe"] == "start mode")
    assert "file/pos" in mode["resolved"]


def _kafka_toml(tmp_path, **cfg) -> Path:
    keys = {"broker_list": "127.0.0.1:9092", "topic": "ops", **cfg}
    body = "".join(f'    {k} = "{v}"\n' for k, v in keys.items())
    p = tmp_path / "kafka.toml"
    p.write_text(
        f'mysql_addr = "127.0.0.1:3306"\nserver_id = 9\n'
        f'[checkpoint]\n  dir = "{tmp_path}/ckp"\n'
        f'[schema_tracker]\n  dir = "{tmp_path}/schema"\n'
        f'[[sink]]\n  type = "kafka"\n  name = "k"\n  [sink.cfg]\n{body}'
    )
    return p


@pytest.mark.parametrize(
    "cfg,error",
    [
        ({"encoder": "avro"}, "encoder must be protobuf or json, got 'avro'"),
        ({"compression": "lz4"}, "compression must be none, zlib or gzip, got 'lz4'"),
        ({"encoder": "json", "compression": "zlib"}, "the json encoder takes compression none, got 'zlib'"),
    ],
    ids=["encoder", "compression", "json-compression"],
)
def test_dry_run_rejects_bad_kafka_encoder_and_compression(tmp_path, capsys, cfg, error):
    """An unknown encoder or compression is a config error at review
    time, never silently replaced by protobuf or no compression."""
    from dolphinbeat_spark.daemon import main

    assert main(["--config", str(_kafka_toml(tmp_path, **cfg)), "--dry-run"]) == 1
    assert error in capsys.readouterr().err
    ok = _kafka_toml(tmp_path, encoder="json", compression="none")
    assert main(["--config", str(ok), "--dry-run"]) == 0


@pytest.mark.parametrize("name", ["", "../x", "a/b", "_stream"],
                         ids=["empty", "parent", "nested", "reserved"])
def test_dry_run_rejects_sink_names_that_are_not_one_state_dir(tmp_path, capsys, name):
    """A sink name is its state directory under [checkpoint] dir, so it
    must be one non-empty path component and not the daemon query's
    ``_stream`` checkpoint."""
    from dolphinbeat_spark.daemon import main

    p = tmp_path / "d.toml"
    p.write_text(f'mysql_addr = "127.0.0.1:3306"\nserver_id = 9\n'
                 f'[[sink]]\ntype = "stdout"\nname = "{name}"\n')
    assert main(["--config", str(p), "--dry-run"]) == 1
    assert f"sink {name!r}: name must be one non-empty path component" in capsys.readouterr().err


@pytest.mark.parametrize("old", ["all", "_metrics"])
def test_run_refuses_an_old_per_query_checkpoint(spark, tmp_path, old):
    """A checkpoint root from the one-query-per-sink layout (a sink's
    or the op-count query's own ``offsets``) stops run() with a typed
    error naming the directory, before any query starts."""
    from dolphinbeat_spark.daemon import CheckpointLayoutError, SinkBlock, run

    (tmp_path / "ckp" / old / "offsets").mkdir(parents=True)
    cfg = DaemonConfig(reader="file", binlog_file_path=str(tmp_path / "x.binlog"),
                       checkpoint_dir=str(tmp_path / "ckp"),
                       tracker_dir=str(tmp_path / "schema"),
                       sinks=[SinkBlock(type="stdout", name="all",
                                        cfg={"out_dir": str(tmp_path / "out")})])
    assert cfg.validate() == []
    before = {q.id for q in spark.streams.active}
    with pytest.raises(CheckpointLayoutError, match=str(tmp_path / "ckp" / old)):
        run(cfg, spark, trigger_once=True)
    assert {q.id for q in spark.streams.active} == before
    assert not (tmp_path / "out").exists()


@pytest.fixture
def kafka_daemon(spark, tmp_path, monkeypatch):
    """``start(producer, encoder)``: run() with one kafka block over the
    fixture source, the producer client replaced by ``producer`` and the
    control server on an ephemeral port; returns (the daemon's one
    query, control server), both stopped at teardown."""
    from dolphinbeat_spark.daemon import run
    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.sinks import ordered
    from dolphinbeat_spark.sources.fixture_source import register_fixture_source

    started = []

    def start(producer, encoder):
        register_fixture_source(spark)
        reg = SchemaRegistry()
        reg.apply_ddl(
            "CREATE TABLE test.canal_test (id INT PRIMARY KEY, name VARCHAR(100), content BLOB)"
        )
        (tmp_path / "schema").mkdir()
        reg.save(tmp_path / "schema" / "schema_snapshot.json")
        compression = "zlib" if encoder == "protobuf" else "none"
        cfg = DaemonConfig.from_toml(
            _kafka_toml(tmp_path, encoder=encoder, compression=compression))
        cfg.http_addr = "127.0.0.1:0"
        assert cfg.validate() == []
        monkeypatch.setattr(ordered, "_confluent_producer", lambda bootstrap: producer)
        before = {q.id for q in spark.streams.active}
        _, query, server = run(cfg, spark, source_format="dolphinbeat_fixture",
                               source_options_extra={"batch_size": "100"},
                               trigger_once=True)
        started.append((query, server))
        # one query delivers the kafka block AND counts the ops
        assert query.name == "dolphinbeat"
        assert {q.id for q in spark.streams.active} - before <= {query.id}
        return query, server

    yield start
    for query, server in started:
        server.stop()
        query.stop()


@pytest.mark.parametrize("encoder", ["protobuf", "json"])
def test_daemon_kafka_sink_delivers_source_ops_in_seq_order(spark, tmp_path, kafka_daemon, encoder):
    """The daemon's kafka block end to end: the fixture source's ops
    reach the producer as seq-keyed messages on one topic-partition,
    and decode back to the source's ops in total order; the daemon's
    op counters (``/metrics``) count them too."""
    from conftest import FakeProducer

    from dolphinbeat_spark.sinks import wire_protocol as wp
    from dolphinbeat_spark.sinks.ordered import OP_RANK, decode_kafka_messages
    from dolphinbeat_spark.sources.fixture_source import golden_envelope_df

    producer = FakeProducer()
    q, server = kafka_daemon(producer, encoder)
    q.awaitTermination(120)
    assert q.exception() is None
    src = sorted(
        golden_envelope_df(spark).collect(),
        key=lambda r: (r["log_name"] or "", r["log_pos"], OP_RANK.get(r["op_type"], 3),
                       r["row_index"] or 0),
    )
    assert {(t, p) for t, p, _, _ in producer.log} == {("ops", 0)}
    keys = [int(k) for _, _, k, _ in producer.log]
    assert keys == list(range(1, len(keys) + 1))
    values = [v for _, _, _, v in producer.log]
    if encoder == "protobuf":
        dec, ops = wp.OperationDecoder(), []
        for i, value in enumerate(values):
            r = dec.feed(value, offset=i)
            if r:
                ops.extend(r.ops)
        assert [(o["op_type"], o["log_pos"]) for o in ops] == \
            [(r["op_type"], r["log_pos"]) for r in src]
    else:
        back = decode_kafka_messages(
            spark.createDataFrame([(v,) for v in values], "value binary")).collect()
        assert [r["seq"] for r in back] == keys
        assert [(r["op_type"], r["log_pos"], r["row_index"]) for r in back] == \
            [(r["op_type"], r["log_pos"], r["row_index"]) for r in src]
    assert (tmp_path / "ckp" / "k" / "_seq_meta" / "0.json").exists()
    counters = server.metrics.counters()
    assert counters["trx_total"] == sum(r["op_type"] == "commit" for r in src)
    assert counters["iud_total"] == sum(r["op_type"] in ("insert", "update", "delete")
                                        for r in src)
    assert counters["trx_total"] > 0 and counters["iud_total"] > 0
    code, text = server.handle("GET", "/metrics")
    assert code == 200 and f"trx_total {counters['trx_total']}" in text


def test_daemon_kafka_sink_failed_delivery_commits_nothing(tmp_path, kafka_daemon):
    """A message the broker rejects fails the daemon's batch with
    DeliveryError, and the batch's seq meta is not recorded."""
    from conftest import FakeProducer

    q, _ = kafka_daemon(FakeProducer(fail_keys=[1]), "protobuf")
    with pytest.raises(Exception, match="DeliveryError"):
        q.awaitTermination(120)
    assert not list((tmp_path / "ckp" / "k" / "_seq_meta").glob("*.json"))
