"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest cdcbench -q

The generator's reference must match what the engine's own decoder
reads from the generated bytes; each workload's output check must pass
on a faithful output and report a nonzero error ratio on a corrupted
one; the loopback master must serve the engine's native client.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
from compare import trace_overhead, verdict  # noqa: E402
from probe import percentile, tail_percentile  # noqa: E402
from workloads import (  # noqa: E402
    ROW_OPS,
    Phase,
    Tail,
    _decode_ref_s,
    check_replay_topic,
    check_tail_rows,
)

from dolphinbeat_spark.schema.registry import SchemaRegistry  # noqa: E402
from dolphinbeat_spark.sources.binlog_file import parse_binlog_events  # noqa: E402
from dolphinbeat_spark.sources.binlog_source import (  # noqa: E402
    DecodeContext,
    adapt_replication_event,
    decode_event,
)


def _decode(paths) -> list[dict]:
    ctx = DecodeContext(registry=SchemaRegistry(), log_name=paths[0].name)
    ops = []
    for p in paths:
        for raw in parse_binlog_events(p.read_bytes()):
            ev = adapt_replication_event(raw)
            if ev is not None:
                ops += decode_event(ev, ctx)
    return ops


def _as_ref(op: dict) -> tuple:
    return (op["db"], op["table"], op["op_type"], op.get("before"), op.get("after"))


@pytest.fixture(scope="module")
def series(tmp_path_factory):
    d = tmp_path_factory.mktemp("series")
    ref = gen.make_series(11, d, n_files=3, trx_per_file=60)
    return d, ref


def test_series_is_seeded_and_matches_the_decoder(series, tmp_path):
    d, ref = series
    again = gen.make_series(11, tmp_path, n_files=3, trx_per_file=60)
    assert again == ref
    for p in sorted(d.iterdir()):
        assert (tmp_path / p.name).read_bytes() == p.read_bytes()
    ops = _decode(sorted(d.iterdir()))
    assert [_as_ref(o) for o in ops if o["op_type"] in ROW_OPS] == [
        tuple(o) for o in ref["row_ops"]]
    counts = {k: sum(o["op_type"] == k for o in ops) for k in ref["marker_counts"]}
    assert counts == ref["marker_counts"]
    files = sorted(d.iterdir())
    assert len(files[-1].read_bytes()) > len(files[-2].read_bytes())
    kinds = {o[2] for o in ref["routed_ops"]}
    assert kinds == {"insert", "update", "delete"}
    assert {o[1] for o in ref["routed_ops"]} == {"orders", "customers"}
    assert len(ref["routed_ops"]) < len(ref["row_ops"])


def test_updates_and_deletes_hit_live_rows():
    m = gen.Model(5, ("orders",), mix=(0.3, 0.4, 0.3))
    live = set()
    for i in range(400):
        kind, _, rows = m.rows_event("orders", 3, i)
        for r in rows:
            key = (r[1] if kind == "update" else r)[0]
            if kind == "insert":
                assert key not in live
                live.add(key)
            else:
                assert key in live
                if kind == "delete":
                    live.remove(key)
    assert live == set(m.rows["orders"])


def _topic(series_dir: Path, want_rows) -> bytes:
    """Messages as ProtobufKafkaSink frames them, built with the wire
    module from the decoded, routed envelope ops."""
    from dolphinbeat_spark.sinks import wire_protocol as wp

    reg = SchemaRegistry.loads(gen.schema_snapshot_json(gen.TABLES))
    chunks = []
    for op in _decode(sorted(series_dir.iterdir())):
        if op.get("table") and not gen.routed(op["table"]):
            continue
        td = reg.get(op["db"], op["table"]) if op["op_type"] in ROW_OPS else None
        chunks.append(wp.payload_chunk(wp.encode_operation(op, td)))
    msgs = wp.build_messages(chunks, 0, 1, compression=wp.COMPRESSION_ZLIB)
    return b"".join(len(v).to_bytes(4, "little") + v for _, v in msgs)


def _frames(data: bytes) -> list[bytes]:
    out, pos = [], 0
    while pos < len(data):
        n = int.from_bytes(data[pos:pos + 4], "little")
        out.append(data[pos + 4:pos + 4 + n])
        pos += 4 + n
    return out


def _join(frames) -> bytes:
    return b"".join(len(f).to_bytes(4, "little") + f for f in frames)


def test_replay_check_passes_and_catches_corruption(series):
    from dolphinbeat_spark.sinks.wire_protocol import OperationDecoder

    d, ref = series
    want = [tuple(o) for o in ref["routed_ops"]]
    data = _topic(d, want)
    attempted, failed, _ = check_replay_topic(data, want, ref["marker_counts"],
                                              OperationDecoder())
    assert attempted > 0 and failed == 0

    frames = _frames(data)
    dropped = _join(frames[:1] + frames[2:])
    flipped = bytearray(frames[1])
    flipped[-3] ^= 0xFF
    corrupted = _join([frames[0], bytes(flipped)] + frames[2:])
    for bad in (dropped, corrupted):
        a, f, _ = check_replay_topic(bad, want, ref["marker_counts"], OperationDecoder())
        assert f / a > 0


def _tail_rows(n_trx: int, seed: int = 3) -> tuple[list[dict], list, int]:
    feed = gen.TailFeed(seed)
    rows, seq = [], 0
    for i in range(n_trx):
        seq += 1
        rows.append({"seq": seq, "op_type": "gtid", "db": None, "table": None,
                     "before": None, "after": None})
        for db, table, kind, b, a in gen.reference_ops(feed.transaction(1000 + i)):
            if gen.routed(table):
                seq += 1
                rows.append({"seq": seq, "op_type": kind, "db": db, "table": table,
                             "before": b, "after": a})
        for marker in ("begin", "commit"):
            seq += 1
            rows.append({"seq": seq, "op_type": marker, "db": None, "table": None,
                         "before": None, "after": None})
    want = []
    feed = gen.TailFeed(seed)
    for i in range(n_trx):
        want += [gen.strip_created(o) for o in gen.reference_ops(feed.transaction(i))
                 if gen.routed(o[1])]
    return rows, want, 3 * n_trx


def test_tail_check_passes_and_catches_gaps_and_changes():
    rows, want, markers = _tail_rows(40)
    a, f, _ = check_tail_rows(rows, want, markers)
    assert a > 0 and f == 0

    gap = rows[:10] + rows[11:]
    a, f, _ = check_tail_rows(gap, want, markers)
    assert f / a > 0
    changed = [dict(r) for r in rows]
    i = next(i for i, r in enumerate(changed) if r["after"])
    changed[i]["after"] = {**changed[i]["after"], "id": "999999"}
    a, f, _ = check_tail_rows(changed, want, markers)
    assert f / a > 0


def test_decode_ref_counts_every_op(series):
    d, ref = series
    seconds, n = _decode_ref_s(sorted(d.iterdir()))
    assert seconds > 0
    assert n == len(ref["row_ops"]) + sum(ref["marker_counts"].values())


def test_master_serves_the_native_client_on_schedule():
    from dolphinbeat_spark.sources.binlog_source import BinlogOffset
    from dolphinbeat_spark.sources.repl_client import native_live_provider

    p = subprocess.Popen(
        [sys.executable, str(HERE / "master.py"), "--seed", "3", "--events-per-s", "800"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        info = json.loads(p.stdout.readline())

        def cmd(line):
            p.stdin.write(line + "\n")
            p.stdin.flush()
            return json.loads(p.stdout.readline())

        t0 = time.time()
        cmd("go")
        time.sleep(0.5)
        stop = cmd("stop")
        opts = {"host": "127.0.0.1", "port": str(info["port"]), "user": "repl",
                "password": "bench", "gtid_enabled": "false"}
        factory, latest = native_live_provider(opts)
        head = latest(opts)
        evs = list(factory(BinlogOffset(file=info["file"], pos=info["start_pos"])))
        stats = cmd("stats")
    finally:
        p.stdin.write("exit\n")
        p.stdin.flush()
        p.wait(10)
    assert stop["n_trx"] > 100
    assert head["pos"] > info["start_pos"]
    rows = [e for e in evs if type(e).__name__.endswith("RowsEvent")]
    assert len(rows) == stop["n_trx"]
    feed = gen.TailFeed(3)
    for e in rows[:20]:
        (kind, table, want), = feed.transaction(0)
        got = [r["values"] if kind != "update" else (r["before_values"], r["after_values"])
               for r in e.rows]
        assert e.table == table
        strip = (lambda r: r[:-1]) if kind != "update" else (lambda r: (r[0][:-1], r[1][:-1]))
        assert [strip(g) for g in got] == [strip(w) for w in want]
        created = (e.rows[0]["values"] if kind != "update" else e.rows[0]["after_values"])[-1]
        assert created >= int(t0 * 1e6) - 1_000_000
    assert stats["connections"] >= 4 and stats["dumps"]
    assert stats["lateness_ms_max"] < 1000


def test_percentiles_and_tail_rule():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50.5
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(40)))[0] == 75.0
    assert tail_percentile([1.0, 2.0, 3.0]) == (100.0, 3.0)


def test_latency_tail_falls_back_on_few_samples():
    many = Phase(latencies=[i / 1000 for i in range(1, 2001)], events=1, wall=1.0,
                 call_walls=[1.0])
    m, shape = many.e2e(1.0)
    assert shape["latency_p99_q"] == 99.0
    assert abs(m["latency_p99_ms"][0] - percentile(many.latencies, 99) * 1e3) < 1e-9
    # one sample per replay pass: the tail is the slowest pass
    passes = Phase(latencies=[5.0, 6.0, 7.0], events=1, wall=1.0, call_walls=[1.0])
    m, shape = passes.e2e(1.0)
    assert shape["latency_p99_q"] == 100.0 and m["latency_p99_ms"][0] == 7000.0
    assert m["latency_p50_ms"][0] == 6000.0


def test_tail_drain_is_probe_to_commit_per_batch_in_the_window():
    # trigger starts at t=100.0 s and t=101.5 s (UTC), latestOffset 200 ms each
    progress = [{"batchId": 7, "timestamp": "1970-01-01T00:01:40.000Z",
                 "durationMs": {"latestOffset": 200}},
                {"batchId": 8, "timestamp": "1970-01-01T00:01:41.500Z",
                 "durationMs": {"latestOffset": 200}}]
    # (sink call returned, batch id, base seq, rows): batch 6 is before
    # the window, an empty batch carries no sample
    commits = [(99.0, 6, 0, 5), (101.4, 7, 5, 5), (103.0, 8, 10, 5), (103.5, 9, 15, 0)]
    got = Tail.drains(progress, commits, t_m=100.0)
    assert [round(d, 6) for d in got] == [1.2, 1.3]


def test_compare_verdicts():
    base = [(s, 100.0 + s % 3) for s in range(10)]
    assert verdict(base, [(s, 140.0) for s in range(10)], "lower", 0.2)["verdict"] == "worse"
    assert verdict(base, [(s, 80.0) for s in range(10)], "lower", 0.2)["verdict"] == "better"
    same = verdict(base, base, "lower", 0.2)
    assert same["verdict"] == "unresolved" and same["within_bound"]
    assert verdict(base, [(s, 140.0) for s in range(10)], "higher", 0.2)["verdict"] == "better"


def test_trace_overhead_sets_traced_phases_against_untraced_runs():
    def run(seed, traced, value):
        rep = {"workload": "tail", "seed": seed}
        if traced:
            rep.update(per_layer={}, traced={"latency_p50_ms": value})
        return {"correct": True, "report": rep,
                "metrics": {} if traced else {"latency_p50_ms": {"value": value}}}

    runs = [run(s, False, 100.0) for s in range(5)] + [run(9, True, 110.0)]
    (row,) = trace_overhead(runs)
    assert row["metric"] == "latency_p50_ms" and abs(row["overhead_pct"] - 10.0) < 1e-9
