"""HTTP control surface tests (reference M1 routes, C5 retry loop)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from dolphinbeat_spark.schema.registry import SchemaRegistry
from dolphinbeat_spark.streaming.http_server import ControlServer


@pytest.fixture
def server():
    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE d.t (id INT PRIMARY KEY, name VARCHAR(10))")
    reg.apply_ddl("ALTER TABLE d.t ADD age INT")
    srv = ControlServer(registry=reg, dead_letters=[
        {"statement": "ALTER TABLE d.missing ADD x INT", "db": "d",
         "log_name": "binlog.000001", "log_pos": 500, "error": "ALTER on unknown table"},
    ])
    port = srv.serve()
    yield srv, f"http://127.0.0.1:{port}"
    srv.stop()


def _get(url):
    with urllib.request.urlopen(url, timeout=5) as r:
        return r.status, json.loads(r.read())


def _post(url, payload=None):
    data = json.dumps(payload).encode() if payload else b""
    req = urllib.request.Request(url, data=data, method="POST")
    with urllib.request.urlopen(req, timeout=5) as r:
        return r.status, json.loads(r.read())


def test_status_and_schema_routes(server):
    srv, base = server
    code, status = _get(base + "/status")
    assert code == 200
    assert status["registry_version"] == srv.registry.version
    assert status["ddl_failed"] == 1

    code, all_tables = _get(base + "/schema")
    assert all_tables["tables"] == [["d", "t"]]
    code, db_tables = _get(base + "/schema/d")
    assert db_tables == {"db": "d", "tables": ["t"]}

    code, td = _get(base + "/schema/d/t")
    assert code == 200
    assert [c["name"] for c in td["def"]["columns"]] == ["id", "name", "age"]
    assert td["primary_key"] == ["id"]
    # historical version: before the ALTER (versioned registry bonus)
    code, old = _get(base + "/schema/d/t?version=1")
    assert [c["name"] for c in old["def"]["columns"]] == ["id", "name"]

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base + "/schema/d/nope")
    assert ei.value.code == 404


def test_ddl_failed_retry_exec(server):
    srv, base = server
    code, failed = _get(base + "/ddl/failed")
    assert len(failed["failed"]) == 1

    # retry still fails (table still missing)
    code, res = _post(base + "/ddl/retry")
    assert res == {"retried": [], "still_failed": 1}

    # exec the missing CREATE, then retry drains the queue
    code, res = _post(base + "/ddl/exec",
                      {"statement": "CREATE TABLE d.missing (id INT)", "db": "d"})
    assert code == 200 and res["applied"]
    code, res = _post(base + "/ddl/retry")
    assert res["retried"] == ["ALTER TABLE d.missing ADD x INT"] and res["still_failed"] == 0
    assert srv.registry.get("d", "missing").column_names() == ["id", "x"]
    code, failed = _get(base + "/ddl/failed")
    assert failed["failed"] == []

    # bad exec -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base + "/ddl/exec", {"statement": "NOT A DDL"})
    assert ei.value.code == 400


def _get_text(url):
    with urllib.request.urlopen(url, timeout=5) as r:
        return r.status, r.headers.get("Content-Type", ""), r.read().decode()


def test_metrics_prometheus_exposition(server):
    """GET /metrics serves scrapeable Prometheus text: the reference's
    four counter families (metrics.go:21-51), each counting its own op
    class (the reference's iud/ddl counters all read TrxCount — fixed
    here), plus per-query streaming counters."""
    from dolphinbeat_spark.streaming.metrics import PipelineMetrics

    srv, base = server
    m = PipelineMetrics()
    m.record_ops({"begin": 5, "commit": 5, "insert": 30, "update": 10,
                  "delete": 2, "ddl": 3})
    m.record_failed_ddl()
    srv.metrics = m

    code, ctype, text = _get_text(base + "/metrics")
    assert code == 200
    assert ctype.startswith("text/plain") and "version=0.0.4" in ctype
    lines = text.splitlines()
    metrics = {
        parts[0]: float(parts[1])
        for parts in (ln.split() for ln in lines if ln and not ln.startswith("#"))
        if len(parts) == 2 and "{" not in parts[0]
    }
    assert metrics["trx_total"] == 5
    assert metrics["iud_total"] == 42
    assert metrics["ddl_total"] == 3
    assert metrics["failed_ddl_total"] == 1
    # HELP/TYPE headers present for every family (scraper contract)
    for fam in ("trx_total", "iud_total", "ddl_total", "failed_ddl_total"):
        assert f"# HELP {fam} " in text and f"# TYPE {fam} counter" in text


def test_metrics_without_pipeline_counters_uses_dead_letters(server):
    """No metrics listener wired: /metrics still serves, with
    failed_ddl_total fed from the dead-letter queue length."""
    srv, base = server
    assert srv.metrics is None
    code, _, text = _get_text(base + "/metrics")
    assert code == 200
    assert "failed_ddl_total 1" in text  # the fixture's one dead letter


def test_debug_pprof_routes(server):
    _, base = server
    code, _, idx = _get_text(base + "/debug/pprof/")
    assert code == 200 and "goroutine" in idx
    code, _, cmdline = _get_text(base + "/debug/pprof/cmdline")
    assert code == 200 and cmdline  # argv joined by NUL, like pprof
    code, _, stacks = _get_text(base + "/debug/pprof/goroutine")
    assert code == 200 and "thread" in stacks and "File" in stacks
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get_text(base + "/debug/pprof/profile")
    assert ei.value.code == 501


def test_pipeline_feeds_metrics_counters_once(spark, tmp_path):
    """End-to-end: build_pipeline over the golden envelope stream with
    TWO sinks feeds the op counters EXACTLY ONCE — daemon-level
    counters like the reference's, not once per sink."""
    from dolphinbeat_spark.envelope import golden_sequences
    from dolphinbeat_spark.sinks.ordered import OrderedFileSink
    from dolphinbeat_spark.sources.fixture_source import register_fixture_source
    from dolphinbeat_spark.streaming.metrics import PipelineMetrics
    from dolphinbeat_spark.streaming.pipeline import build_pipeline

    register_fixture_source(spark)
    stream = spark.readStream.format("dolphinbeat_fixture").option(
        "batch_size", "6"
    ).load()
    m = PipelineMetrics()
    sinks = [(f"s{i}", [], [], OrderedFileSink(str(tmp_path / f"out{i}"))) for i in (1, 2)]
    build_pipeline(stream, sinks, str(tmp_path / "ckp"), m, trigger_once=True).awaitTermination(120)

    got = m.counters()
    golden = golden_sequences()
    assert got["trx_total"] == sum(1 for o in golden if o["op_type"] == "commit")
    assert got["iud_total"] == sum(
        1 for o in golden if o["op_type"] in ("insert", "update", "delete"))
    assert got["ddl_total"] == 1


def test_decode_dead_letters_failed_ddl():
    """decode_event records unparseable DDL and keeps streaming
    (C5 deviation: versioned registry makes late apply safe)."""
    from types import SimpleNamespace

    from dolphinbeat_spark.sources.binlog_source import DecodeContext, decode_event

    ctx = DecodeContext(registry=SchemaRegistry(), log_name="binlog.000001")
    ev = SimpleNamespace(kind="query", query="ALTER TABLE d.ghost ADD x INT",
                         schema="d", timestamp=1, log_pos=42)
    ops = decode_event(ev, ctx)
    assert [o["op_type"] for o in ops] == ["ddl_failed"]
    assert len(ctx.dead_letters) == 1
    assert ctx.dead_letters[0]["log_pos"] == 42
    # the stream continues: a later valid DDL still applies
    ev2 = SimpleNamespace(kind="query", query="CREATE TABLE d.ok (id INT)",
                          schema="d", timestamp=1, log_pos=60)
    assert decode_event(ev2, ctx)[0]["op_type"] == "ddl"
