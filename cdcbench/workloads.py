"""The two CDC workloads, each driving the daemon's real wiring
through public functions and checking its output against the
generator's reference.

- ``replay``: closed loop over an archived multi-file series,
  ``reader = "file"`` source → ``filter_tables`` → ``ProtobufKafkaSink``
  (zlib) with ``produce`` appending to a local file.
- ``tail``: open loop; a separate generator process grows a binlog at a
  fixed rate behind a loopback master, the arrow reader with
  ``repl_client:native_live_provider`` feeds ``filter_tables`` →
  ``OrderedFileSink``, batches back to back.

Every workload has a unit of work — a replay pass, a tail phase — and
reports per unit: its wall, its sink-call times, the commit latency of
what it carried and the CPU it cost.
"""

from __future__ import annotations

import bisect
import json
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import gen
from probe import Spans, median, tail_percentile

from dolphinbeat_spark.daemon import DaemonConfig, SinkBlock, resolve_plan
from dolphinbeat_spark.operators.filters import filter_tables
from dolphinbeat_spark.schema.registry import SchemaRegistry

ROW_OPS = ("insert", "update", "delete")
MARKERS = ("gtid", "begin", "commit", "ddl", "rotate")


@dataclass
class Phase:
    """What one measured phase produced."""

    units: int = 0
    unit_walls: list[float] = field(default_factory=list)
    call_walls: list[float] = field(default_factory=list)
    #: commit latencies in seconds, one per ``latency_basis`` sample
    latencies: list[float] = field(default_factory=list)
    latency_basis: str = ""
    events: int = 0
    wall: float = 0.0
    drain: float = 0.0
    cpu: float = 0.0
    peak_rss_mb: float = 0.0
    progress: list[dict] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def e2e(self, setup_s: float) -> tuple[dict, dict]:
        """(metric -> (value, unit), sample shape for the report).
        ``latency_p99_ms`` is p99 when ten samples lie beyond it, else
        the highest lower percentile that has ten (the maximum when
        none has); the report names the one used."""
        tail_q, tail = tail_percentile(self.latencies, (99.0, 95.0, 90.0, 75.0))
        return {
            "setup_s": (setup_s, "s"),
            "events_per_s": (self.events / self.wall, "1/s"),
            "latency_p50_ms": (median(self.latencies) * 1e3, "ms"),
            "latency_p99_ms": (tail * 1e3, "ms"),
            "drain_s": (self.drain, "s"),
            "merge_p50_ms": (median(self.call_walls) * 1e3, "ms"),
            "cpu_s": (self.cpu / max(1, self.units), "s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }, {"merge_tail": tail_percentile(self.call_walls), "calls": len(self.call_walls),
            "latency_basis": self.latency_basis, "latency_samples": len(self.latencies),
            "latency_p99_q": tail_q, "units": self.units}


class Workload:
    """Shared plumbing: directories, the daemon config, spans and the
    job-group tagging of every call into the engine."""

    name = ""

    def __init__(self, spark, seed: int, run_dir: Path, cache_dir: Path, tree, status):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.cache = cache_dir / f"{self.name}-s{seed}"
        self.tree = tree
        self.status = status
        self.spans = Spans(False)
        self.checks: list[tuple[int, int, str]] = []  # (attempted, failed, what)
        self._n = 0

    def fresh(self, tag: str) -> Path:
        self._n += 1
        d = self.run_dir / f"{tag}{self._n}"
        d.mkdir(parents=True)
        return d

    def config(self, reader: str, binlog_file_path: str, sink: SinkBlock, **kw) -> dict:
        d = self.fresh("daemon")
        (d / "schema").mkdir()
        (d / "schema" / "schema_snapshot.json").write_text(self.snapshot_json())
        cfg = DaemonConfig(reader=reader, binlog_file_path=binlog_file_path,
                           checkpoint_dir=str(d / "ckp"), tracker_dir=str(d / "schema"),
                           sinks=[sink], **kw)
        errors = cfg.validate()
        if errors:
            raise ValueError(f"daemon config rejected: {errors}")
        return resolve_plan(cfg)

    def snapshot_json(self) -> str:
        return gen.schema_snapshot_json(gen.TABLES)

    def call(self, layer: str, fn, *args, **kw):
        """One call into the engine: a span, and (traced) a job group
        ``<layer>#<n>`` so the status store attributes the stages of
        this one call to ``layer``."""
        with self.spans.span(layer):
            if self.status is None or not self.spans.enabled:
                return fn(*args, **kw)
            self._n += 1
            with self.status.group(f"{layer}#{self._n}"):
                return fn(*args, **kw)

    # the interface run.py drives
    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> Phase:
        raise NotImplementedError

    def check(self) -> None:
        """Append (attempted, failed, what) per output checked."""
        raise NotImplementedError

    def read_pass(self) -> dict:
        """The workload's source into the noop sink: read_s,
        route_in_rows, the stream's progress and the binlog paths."""
        raise NotImplementedError

    def close(self) -> None:
        pass


def _decode_ref_s(paths: list[Path]) -> tuple[float, int]:
    """Single-threaded in-process decode of the same bytes: the
    one-thread baseline the parse-amplification ratio divides by."""
    from dolphinbeat_spark.sources.binlog_file import parse_binlog_events
    from dolphinbeat_spark.sources.binlog_source import (
        DecodeContext,
        adapt_replication_event,
        decode_event,
    )

    t = time.perf_counter()
    n = 0
    ctx = DecodeContext(registry=SchemaRegistry(), log_name=paths[0].name)
    for p in paths:
        for raw in parse_binlog_events(p.read_bytes()):
            ev = adapt_replication_event(raw)
            if ev is not None:
                n += len(decode_event(ev, ctx))
    return time.perf_counter() - t, n


def decoded_row_op(op: dict) -> list[tuple]:
    """A decoded protobuf Operation → reference-shaped row ops."""
    table = op.get("table") or {}
    names = [c["name"] for c in table.get("columns", [])]

    def img(cols):
        if not cols:
            return None
        return {n: (None if c["is_null"] else c["value"]) for n, c in zip(names, cols)}

    return [(table.get("database"), table.get("name"), op["op_type"],
             img(r["before"]), img(r["after"])) for r in op.get("rows") or []]


def count_mismatches(got: list, want: list) -> int:
    """Positions that differ, plus missing or extra ops."""
    return sum(a != b for a, b in zip(got, want)) + abs(len(got) - len(want))


# ---------------------------------------------------------------------------


class Replay(Workload):
    name = "replay"
    N_FILES, TRX_PER_FILE = 3, 1050

    def prepare(self) -> None:
        series = self.cache / "series"
        ref_path = self.cache / "reference.json"
        if not ref_path.exists():
            shutil.rmtree(self.cache, ignore_errors=True)
            ref = gen.make_series(self.seed, series, self.N_FILES, self.TRX_PER_FILE)
            ref_path.write_text(json.dumps(ref))
        self.series = series
        self.ref = json.loads(ref_path.read_text())
        self.want_rows = [tuple(o) for o in self.ref["routed_ops"]]
        self.n_events = len(self.want_rows) + sum(self.ref["marker_counts"].values())
        self.warm_series = self.cache / "warm"
        if not (self.warm_series / "mysql-bin.000001").exists():
            gen.make_series(self.seed + 1, self.warm_series, 1, 40)
        self.rounds: list[dict] = []

    def warmup(self) -> None:
        self._round(self.warm_series, check=False)

    def _round(self, series: Path, check: bool = True) -> dict:
        from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink
        from dolphinbeat_spark.sources.binlog_file import (
            BINLOG_FILE_SOURCE_NAME,
            register_binlog_file_source,
        )

        plan = self.config("file", str(series), SinkBlock(
            type="kafka", name="replay", include_table=gen.INCLUDE,
            exclude_table=gen.EXCLUDE,
            cfg={"broker_list": "localhost:0", "topic": "cdc", "encoder": "protobuf",
                 "compression": "zlib"}))
        s = plan["sinks"][0]
        opts = dict(plan["source"]["options"])
        snap = Path(opts.pop("schema_snapshot"))
        opts["schema_snapshot_json"] = snap.read_text()
        opts["binlog_file_path"] = str(series)
        registry = SchemaRegistry.load(str(snap))
        rd = self.fresh("round")
        topic = open(rd / "topic.bin", "wb")
        info = {"dir": rd, "calls": [], "produce_s": 0.0, "messages": 0, "bytes": 0,
                "check": check}
        traced = self.spans.enabled

        def produce(seq: int, value: bytes) -> None:
            t = time.perf_counter() if traced else 0.0
            topic.write(len(value).to_bytes(4, "little") + value)
            info["messages"] += 1
            info["bytes"] += len(value)
            if traced:
                info["produce_s"] += time.perf_counter() - t

        sink = ProtobufKafkaSink(
            meta_dir=str(Path(s["checkpoint"]) / "_seq_meta"), registry=registry,
            produce=produce, compression=s["compression"],
            max_payload_size=s["max_payload_size"])

        def timed_sink(batch_df, batch_id):
            t = time.perf_counter()
            self.call("sinks", sink, batch_df, batch_id)
            info["calls"].append((t, time.perf_counter()))

        register_binlog_file_source(self.spark)
        t0 = time.perf_counter()
        try:
            with self.spans.span("round"):
                stream = self.spark.readStream.format(BINLOG_FILE_SOURCE_NAME).options(
                    **opts).load()
                q = (filter_tables(stream, s["include"], s["exclude"])
                     .writeStream.foreachBatch(timed_sink)
                     .option("checkpointLocation", s["checkpoint"])
                     .queryName(f"replay_{rd.name}")
                     .trigger(availableNow=True).start())
                q.awaitTermination()
        finally:
            topic.close()
        info["t0"], info["t1"] = t0, time.perf_counter()
        info["progress"] = [json.loads(p.json) for p in q.recentProgress]
        self.rounds.append(info)
        return info

    def measure(self, seconds: float) -> Phase:
        ph = Phase(latency_basis="pass: start -> return of its last sink call")
        self.tree.start_rss()
        cpu0 = self.tree.cpu_seconds()
        start = time.perf_counter()
        gaps, prev_end = [], start
        while time.perf_counter() - start < seconds:
            r = self._round(self.series)
            gaps.append(r["t0"] - prev_end)
            prev_end = r["t1"]
            wall = r["t1"] - r["t0"]
            ph.units += 1
            ph.unit_walls.append(wall)
            ph.call_walls += [b - a for a, b in r["calls"]]
            # every event of the pass is present at its start and the
            # source drains the series in one batch, so all of them
            # commit when that one sink call returns: one sample a pass
            last = r["calls"][-1][1] if r["calls"] else r["t1"]
            ph.latencies.append(last - r["t0"])
            ph.events += self.n_events
            ph.wall += wall
            ph.progress += r["progress"]
        ph.cpu = self.tree.cpu_seconds() - cpu0
        ph.peak_rss_mb = self.tree.stop_rss()
        ph.drain = median(ph.unit_walls)
        ph.extra = {"produce_s": sum(r["produce_s"] for r in self.rounds[-ph.units:]),
                    "messages": sum(r["messages"] for r in self.rounds[-ph.units:]),
                    "bytes_out": sum(r["bytes"] for r in self.rounds[-ph.units:]),
                    "gap_ms_max": max(gaps) * 1e3}
        return ph

    def provider_dump_ms(self, repeat: int = 3) -> float:
        """The file source's analogue of a master dump: the provider's
        event iterator over the whole series, timed in-process."""
        from dolphinbeat_spark.sources.binlog_file import binlog_file_provider
        from dolphinbeat_spark.sources.binlog_source import BinlogOffset

        factory, _latest = binlog_file_provider({"binlog_file_path": str(self.series)})
        walls = []
        for _ in range(repeat):
            t = time.perf_counter()
            sum(1 for _ in factory(BinlogOffset(pos=4)))
            walls.append(time.perf_counter() - t)
        return median(walls) * 1e3

    def check(self) -> None:
        from dolphinbeat_spark.sinks.wire_protocol import OperationDecoder

        for r in self.rounds:
            if not r["check"]:
                continue
            self.checks.append(check_replay_topic(
                (r["dir"] / "topic.bin").read_bytes(), self.want_rows,
                self.ref["marker_counts"], OperationDecoder()))

    def read_pass(self) -> dict:
        """The same source → noop: what reading alone costs."""
        from dolphinbeat_spark.sources.binlog_file import BINLOG_FILE_SOURCE_NAME

        rd = self.fresh("readpass")
        t = time.perf_counter()
        stream = self.spark.readStream.format(BINLOG_FILE_SOURCE_NAME).options(
            binlog_file_path=str(self.series),
            schema_snapshot_json=self.snapshot_json()).load()
        q = (stream.writeStream.format("noop")
             .option("checkpointLocation", str(rd / "ckp"))
             .trigger(availableNow=True).start())
        self.call("read", q.awaitTermination)
        wall = time.perf_counter() - t
        progress = [json.loads(p.json) for p in q.recentProgress]
        return {"read_s": wall, "route_in_rows": sum(p["numInputRows"] for p in progress),
                "progress": progress, "decode_paths": sorted(self.series.iterdir())}


def check_replay_topic(data: bytes, want_rows, want_markers: dict, decoder) -> tuple:
    """Decode one pass's produced messages in seq order with the
    reference client decoder and compare with the post-filter
    reference. Returns (attempted, failed, what)."""
    from dolphinbeat_spark.sinks.wire_protocol import decode_message

    got_rows, markers, seqs, pos = [], {k: 0 for k in MARKERS}, [], 0
    failed = 0
    while pos < len(data):
        n = int.from_bytes(data[pos:pos + 4], "little")
        msg = data[pos + 4:pos + 4 + n]
        pos += 4 + n
        try:
            seqs.append(decode_message(msg)["seq"])
            res = decoder.feed(msg)
        except Exception:  # noqa: BLE001 - a corrupt group counts as failed
            failed += 1
            continue
        for op in res.ops if res else ():
            if op["op_type"] in ROW_OPS:
                got_rows += decoded_row_op(op)
            elif op["op_type"] in markers:
                markers[op["op_type"]] += 1
    failed += count_mismatches(got_rows, list(want_rows))
    failed += sum(abs(markers[k] - want_markers.get(k, 0)) for k in MARKERS)
    failed += seqs != list(range(1, len(seqs) + 1))
    attempted = len(want_rows) + sum(want_markers.values())
    return attempted, min(failed, attempted), "replay messages vs reference"


# ---------------------------------------------------------------------------


class Tail(Workload):
    name = "tail"
    #: offered load in row events per second, far below what the stream
    #: sustains. Batches run back to back (Spark's default trigger): with
    #: a fixed interval close to a batch's time, a run flips between
    #: waiting for the trigger and queueing behind a late batch, and its
    #: latency with it
    EVENTS_PER_S = 300
    TRIGGER = "0 seconds"
    #: the per-batch path keeps getting faster for about this many
    #: batches after the stream starts; the window opens after them
    WARM_BATCHES = 12
    MASTER = Path(__file__).resolve().parent / "master.py"

    def __init__(self, *args):
        super().__init__(*args)
        self.phases: list[dict] = []
        self.master = None
        self._live = None

    def snapshot_json(self) -> str:
        return gen.schema_snapshot_json(gen.TAIL_TABLES)

    def prepare(self) -> None:
        """Start a loopback master; it generates nothing until ``go``."""
        self.close()
        self.master = subprocess.Popen(
            [sys.executable, str(self.MASTER), "--seed", str(self.seed),
             "--events-per-s", str(self.EVENTS_PER_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.tree.exclude.add(self.master.pid)
        self.info = json.loads(self.master.stdout.readline())
        self.started = False

    def _cmd(self, line: str) -> dict:
        self.master.stdin.write(line + "\n")
        self.master.stdin.flush()
        return json.loads(self.master.stdout.readline())

    def close(self) -> None:
        if self._live is not None:
            self._live[1].stop()
            self._live = None
        m = self.master
        if m is not None and m.poll() is None:
            try:
                m.stdin.write("exit\n")
                m.stdin.flush()
                m.wait(10)
            except (OSError, subprocess.TimeoutExpired):
                m.kill()
                m.wait()
        self.master = None

    def _query(self, phase: dict):
        from dolphinbeat_spark.sinks.ordered import OrderedFileSink
        from dolphinbeat_spark.sources.binlog_source import ArrowBinlogDataSource

        plan = self.config("arrow", "", SinkBlock(
            type="stdout", name="tail", include_table=gen.INCLUDE,
            exclude_table=gen.EXCLUDE, cfg={"out_dir": str(self.fresh("out"))}),
            mysql_addr=f"127.0.0.1:{self.info['port']}", mysql_user="repl",
            mysql_password="bench", server_id=7, gtid_enabled=False)
        s = plan["sinks"][0]
        opts = dict(plan["source"]["options"])
        # the daemon's arrow branch: ship the snapshot content, not a path
        opts["schema_snapshot_json"] = Path(opts.pop("schema_snapshot")).read_text()
        opts.update(provider="dolphinbeat_spark.sources.repl_client:native_live_provider",
                    file=self.info["file"], pos=str(self.info["start_pos"]))
        sink = OrderedFileSink(s["out_dir"])
        phase.update(out_dir=s["out_dir"], commits=[], calls=[])

        def timed_sink(batch_df, batch_id):
            t = time.perf_counter()
            self.call("sinks", sink, batch_df, batch_id)
            done = time.time()
            meta = json.loads((Path(s["out_dir"]) / "_seq_meta" / f"{batch_id}.json").read_text())
            phase["calls"].append(time.perf_counter() - t)
            phase["commits"].append((done, batch_id, meta["base_seq"], meta["n_rows"]))

        self.spark.dataSource.register(ArrowBinlogDataSource)
        stream = self.spark.readStream.format("dolphinbeat_binlog_arrow").options(**opts).load()
        return (filter_tables(stream, s["include"], s["exclude"])
                .writeStream.foreachBatch(timed_sink)
                .option("checkpointLocation", s["checkpoint"])
                .queryName(f"tail_{len(self.phases)}")
                .trigger(processingTime=self.TRIGGER).start())

    def _wait(self, cond, timeout: float, q) -> None:
        end = time.time() + timeout
        while not cond():
            if q.exception() is not None:
                raise RuntimeError(f"tail query failed: {q.exception()}")
            if time.time() > end:
                raise TimeoutError("tail workload did not drain in time")
            time.sleep(0.02)

    def warmup(self) -> None:
        """Start generating and streaming until the stream is steady;
        the measured window opens on the same query."""
        self._live = self._start()

    def _start(self) -> tuple[dict, object]:
        phase = {"check": True}
        if self.started:  # each phase grows its own binlog from empty
            self.prepare()
        self.started = True
        self._cmd("go")
        q = self._query(phase)
        # the first batch with data runs cold and leaves a backlog; the
        # next few drain it while the per-batch code paths warm up
        self._wait(lambda: sum(1 for c in phase["commits"] if c[3]) >= self.WARM_BATCHES,
                   120, q)
        return phase, q

    def measure(self, seconds: float) -> Phase:
        phase, q = self._live or self._start()
        self._live = None
        ph = Phase(latency_basis="row: created_us -> return of the sink call committing it")
        self.tree.start_rss()
        cpu0 = self.tree.cpu_seconds()
        n_calls0 = len(phase["calls"])
        t_m = time.time()
        time.sleep(seconds)
        # stop the generator as a batch commits, so the final drain is
        # the next batch's full cycle rather than a random slice of one
        n = len(phase["commits"])
        self._wait(lambda: len(phase["commits"]) > n, 120, q)
        stop = self._cmd("stop")
        n_trx = stop["n_trx"]
        want_rows, want_events = self.reference(n_trx)
        self._wait(lambda: sum(c[3] for c in phase["commits"]) >= want_events, 120, q)
        last = phase["commits"][-1][0]
        ph.cpu = self.tree.cpu_seconds() - cpu0
        ph.peak_rss_mb = self.tree.stop_rss()
        q.stop()
        phase.update(n_trx=n_trx, t_m=t_m, stop_s=stop["stop_us"] / 1e6,
                     want_rows=want_rows, want_events=want_events,
                     progress=[json.loads(p.json) for p in q.recentProgress],
                     stats=self._cmd("stats"))
        self.phases.append(phase)
        ph.units = 1
        ph.wall = last - t_m
        ph.unit_walls = [ph.wall]
        drains = self.drains(phase["progress"], phase["commits"], t_m)
        ph.drain = median(drains)
        ph.call_walls = phase["calls"][n_calls0:]
        ph.progress = phase["progress"]
        ph.latencies = self.latencies(phase)
        ph.events = len(ph.latencies)
        ph.extra = {"n_trx": n_trx, "drain_samples": len(drains),
                    "final_drain_s": last - phase["stop_s"]}
        return ph

    @staticmethod
    def drains(progress: list[dict], commits: list, t_m: float) -> list[float]:
        """One drain sample per batch with data committed after ``t_m``:
        its ``latestOffset`` probe returns → its sink call returns. Each
        batch takes everything up to the head its probe saw, so a
        generator stopping at that probe has its last event committed
        then; the run's one real stop would give a single sample."""
        fixed = {}
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            fixed[p["batchId"]] = start + p["durationMs"].get("latestOffset", 0) / 1e3
        return [done - fixed[b] for done, b, _base, n in commits
                if n and done > t_m and b in fixed]

    def reference(self, n_trx: int) -> tuple[list, int]:
        """Routed row ops of the first ``n_trx`` transactions (without
        their created_us stamps) and the envelope events the sink must
        commit for them: three markers per transaction plus the routed
        rows."""
        feed = gen.TailFeed(self.seed)
        rows = []
        for i in range(n_trx):
            rows += [gen.strip_created(o) for o in gen.reference_ops(feed.transaction(i))
                     if gen.routed(o[1])]
        return rows, 3 * n_trx + len(rows)

    def _committed(self, phase: dict):
        """Committed rows via the consumer contract (seq dedup)."""
        from dolphinbeat_spark.sinks.ordered import read_with_consumer_dedup

        df = read_with_consumer_dedup(self.spark, phase["out_dir"])
        return df.select("seq", "op_type", "db", "table", "before", "after").collect()

    def latencies(self, phase: dict) -> list[float]:
        """created_us → return of the sink call that committed the row,
        for rows created inside the measured window."""
        rows = self._committed(phase)
        phase["rows"] = rows
        bounds = sorted((base + 1, base + n, done) for done, _b, base, n in phase["commits"] if n)
        starts = [b[0] for b in bounds]
        lo, hi = phase["t_m"] * 1e6, phase["stop_s"] * 1e6
        out = []
        for r in rows:
            if r["op_type"] not in ROW_OPS or r["after"] is None:
                continue
            created = int(r["after"]["created_us"])
            if not lo <= created <= hi:
                continue
            i = bisect.bisect_right(starts, r["seq"]) - 1
            out.append(bounds[i][2] - created / 1e6)
        return out

    def check(self) -> None:
        for phase in self.phases:
            self.checks.append(check_tail_rows(
                phase["rows"], phase["want_rows"], 3 * phase["n_trx"]))

    def read_pass(self) -> dict:
        """The same live source over the whole committed range → noop."""
        from dolphinbeat_spark.sources.binlog_source import ArrowBinlogDataSource

        rd = self.fresh("readpass")
        opts = {"host": "127.0.0.1", "port": str(self.info["port"]), "user": "repl",
                "password": "bench", "server_id": "7", "gtid_enabled": "false",
                "provider": "dolphinbeat_spark.sources.repl_client:native_live_provider",
                "file": self.info["file"], "pos": str(self.info["start_pos"]),
                "schema_snapshot_json": self.snapshot_json()}
        self.spark.dataSource.register(ArrowBinlogDataSource)
        t = time.perf_counter()
        q = (self.spark.readStream.format("dolphinbeat_binlog_arrow").options(**opts).load()
             .writeStream.format("noop").option("checkpointLocation", str(rd / "ckp"))
             .trigger(availableNow=True).start())
        self.call("read", q.awaitTermination)
        wall = time.perf_counter() - t
        path = rd / "master.binlog"
        self._cmd(f"save {path}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        return {"read_s": wall, "route_in_rows": sum(p["numInputRows"] for p in progress),
                "progress": progress, "decode_paths": [path]}


def check_tail_rows(rows, want_rows, want_markers: int) -> tuple:
    """Seq must run 1..N with no gap, row ops must equal the reference
    in order (created_us aside), markers must all arrive."""
    seqs = [r["seq"] for r in rows]
    failed = sum(1 for a, b in zip(seqs, range(1, len(seqs) + 1)) if a != b)
    got = [gen.strip_created((r["db"], r["table"], r["op_type"],
                              dict(r["before"]) if r["before"] else None,
                              dict(r["after"]) if r["after"] else None))
           for r in rows if r["op_type"] in ROW_OPS]
    failed += count_mismatches(got, want_rows)
    markers = sum(1 for r in rows if r["op_type"] in ("gtid", "begin", "commit"))
    failed += abs(markers - want_markers)
    attempted = len(want_rows) + want_markers
    return attempted, min(failed, attempted), "tail committed rows vs reference"


# ---------------------------------------------------------------------------


def _du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


WORKLOADS = {w.name: w for w in (Replay, Tail)}
