"""Per-task and per-batch fixed costs of a ``get_spark`` session.

    python tools/worker_overhead.py [--jobs 20] [--master local[2]]

Runs ``--jobs`` one-row ``mapInArrow`` jobs, one after another, then a
``rate-micro-batch`` → ``foreachBatch`` stream for :data:`STREAM_BATCHES` micro-batches,
then :data:`RUNNER_STARTS` query starts, and prints one JSON line of
medians over them. Per task:

- ``job_ms``: the job's wall on the driver;
- ``setup_spark_files_ms``: one call of
  ``pyspark.worker_util.setup_spark_files`` (the start of every task,
  whose ``importlib.invalidate_caches()`` re-reads zip directories)
  timed by the task's own clock, inside the task;
- ``zip_reads``: ``zipimport._read_directory`` calls in that call;
- ``input_wait_ms``: from the UDF's entry to its first input batch
  (a delayed ACK holds the input about 40 ms);
- ``worker_cpu_ms``: the worker's CPU time (``time.process_time``)
  from one task's UDF entry to the next task's in the same process,
  less the probe's own counting: the task, its plumbing and the
  ``gc.collect()`` the worker-reuse loop runs after it;
- ``gc_ms_per_task`` and ``gen2_collections_per_task``: the garbage
  collector's time (timed by a ``gc.callbacks`` hook the probe
  installs once per worker) and its full collections over the same
  span.

The last job's worker also names the ``zipimporter.invalidate_caches``
its process runs (``guard``), the ``pyspark.daemon.worker`` its reuse
loop calls (``task_worker``), the objects its daemon froze before
forking (``freeze_count``) and the objects a full collection still
scans (``gen2_objects``). A worker-bootstrap regression shows up as
``setup_spark_files_ms`` and ``zip_reads`` rising, a lost
``TCP_QUICKACK`` as ``input_wait_ms`` near 40, a lost freeze as
``worker_cpu_ms`` and ``gc_ms_per_task`` rising by about 35.

Per micro-batch (``stream``), from the query's progress reports and
``/proc/stat``: the medians of ``walCommit`` and ``commitOffsets`` (the
offset and commit log writes) and of ``triggerExecution``, and
``machine_process_creations_per_batch``, the processes created on the
whole machine (every process, not only this session's) divided by the
batches run. A checkpoint writer that forks per status check, as
Hadoop's local filesystem does without its native library, shows up
as both rising.

Per query start (``source_runner``): :data:`RUNNER_STARTS`
``availableNow`` queries over a one-row streaming Python data source
(:func:`make_origin_source`), each on a new checkpoint, so each starts
Spark's streaming source runner, a fresh Python process outside the
worker daemon. ``query_start_ms`` is the median from ``start()`` to the
query's end; from the last start's runner, its ``pyspark`` origin, its
command line, the zip archives whose directory it read and the modules
it imported from a zip, and ``runner_ready_ms`` (median over the
starts), the runner's age at the reader's ``initialOffset``, from
``/proc/self/stat``. A runner compiling pyspark from ``pyspark.zip``
again shows as ``pyspark`` pointing into the zip, ``zip_modules`` near
100 and both times rising by about a second.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

PROBE_SCHEMA = (
    "pid long, guard string, zip_reads long, setup_spark_files_ms double, "
    "task_worker string, input_wait_ms double, cpu_s double, probe_cpu_s double, "
    "gc_s double, gen2_collections long, freeze_count long, gen2_objects long, "
    "tracked_objects long"
)

#: micro-batches the stream probe measures
STREAM_BATCHES = 20

#: query starts the source-runner probe measures
RUNNER_STARTS = 5


def make_probe():
    """A ``mapInArrow`` function: each task reads its process's CPU
    and GC counters at entry, times the wait for its first input batch,
    runs the worker's per-task ``setup_spark_files`` once more, on an
    empty include list, and yields one row of what it saw. Built as a
    closure, so it is shipped by value and needs no import on the
    worker."""

    def probe(batches):
        import gc
        import io
        import os
        import struct
        import time
        import zipimport

        import pyarrow as pa
        from pyspark import daemon, worker_util
        from pyspark.core.files import SparkFiles

        cpu = time.process_time()
        timer = next((cb for cb in gc.callbacks
                      if getattr(cb, "__name__", "") == "worker_overhead_gc_timer"), None)
        if timer is None:
            state = {"start": 0.0, "total": 0.0}

            def worker_overhead_gc_timer(phase, _info):
                if phase == "start":
                    state["start"] = time.perf_counter()
                else:
                    state["total"] += time.perf_counter() - state["start"]

            worker_overhead_gc_timer.state = state
            timer = worker_overhead_gc_timer
            gc.callbacks.append(timer)
        gc_s = timer.state["total"]
        gen2_collections = gc.get_stats()[2]["collections"]
        it = iter(batches)
        t = time.perf_counter()
        next(it, None)
        wait_ms = (time.perf_counter() - t) * 1e3
        for _ in it:
            pass
        counted = time.process_time()
        # outside the task's CPU: each walks its generation (~8 ms the frozen one)
        frozen, gen2_objects = gc.get_freeze_count(), len(gc.get_objects(2))
        tracked = len(gc.get_objects())
        root = (SparkFiles._root_directory or "").encode()
        frame = struct.pack(">i", len(root)) + root + struct.pack(">i", 0)
        stock_read, reads = zipimport._read_directory, []

        def counting_read(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting_read
        try:
            t = time.perf_counter()
            worker_util.setup_spark_files(io.BytesIO(frame))
            setup_ms = (time.perf_counter() - t) * 1e3
        finally:
            zipimport._read_directory = stock_read
        guard = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(),
            "guard": f"{guard.__module__}.{guard.__qualname__}",
            "zip_reads": len(reads),
            "setup_spark_files_ms": setup_ms,
            "task_worker": f"{daemon.worker.__module__}.{daemon.worker.__qualname__}",
            "input_wait_ms": wait_ms,
            "cpu_s": cpu,
            "probe_cpu_s": time.process_time() - counted,
            "gc_s": gc_s,
            "gen2_collections": gen2_collections,
            "freeze_count": frozen,
            "gen2_objects": gen2_objects,
            "tracked_objects": tracked,
        }])

    return probe


def run_probe(spark):
    """One one-row ``mapInArrow`` job; (job wall ms, the task's row)."""
    df = spark.range(1, numPartitions=1).mapInArrow(make_probe(), PROBE_SCHEMA)
    t = time.perf_counter()
    row = df.collect()[0]
    return (time.perf_counter() - t) * 1e3, row


def per_task_deltas(rows) -> list[dict]:
    """Consecutive tasks of one worker process, in job order: the
    worker CPU (less the probe's own counting), GC time and full
    collections of each span from one task's entry to the next's."""
    last: dict[int, object] = {}
    out = []
    for r in rows:
        prev = last.get(r["pid"])
        if prev is not None:
            out.append({
                "cpu_ms": (r["cpu_s"] - prev["cpu_s"] - prev["probe_cpu_s"]) * 1e3,
                "gc_ms": (r["gc_s"] - prev["gc_s"]) * 1e3,
                "gen2_collections": r["gen2_collections"] - prev["gen2_collections"],
            })
        last[r["pid"]] = r
    return out


def machine_processes() -> int:
    """Processes created on this machine since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("/proc/stat has no processes line")


def run_stream(spark, warmup: int = 3) -> dict:
    """A ``rate-micro-batch`` → no-op ``foreachBatch`` stream, batches
    back to back (that source has new rows for every trigger),
    for ``warmup +`` :data:`STREAM_BATCHES` micro-batches; the
    per-batch medians of the batches after the warm-up."""
    seen: list[tuple[int, int]] = []

    def on_batch(_df, batch_id):
        seen.append((batch_id, machine_processes()))

    with tempfile.TemporaryDirectory(prefix="worker_overhead_ckpt_") as ckpt:
        q = (
            spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 100).load()
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            while len(seen) <= warmup + STREAM_BATCHES:
                if q.exception() is not None:
                    raise RuntimeError(f"probe stream failed: {q.exception()}")
                time.sleep(0.05)
        finally:
            q.stop()
        progress = [p for p in q.recentProgress if p["batchId"] > warmup]
    (first, p0), (last, p1) = seen[warmup], seen[-1]

    def median_ms(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in progress)

    return {
        "batches": last - first,
        "wal_commit_ms": median_ms("walCommit"),
        "commit_offsets_ms": median_ms("commitOffsets"),
        "trigger_ms": median_ms("triggerExecution"),
        "machine_process_creations_per_batch": round((p1 - p0) / (last - first), 1),
    }


def make_origin_source():
    """A streaming Python data source, ``worker_origin``, of one row.
    Its reader's ``initialOffset``, which Spark calls in the streaming
    source runner, writes what that process runs to
    ``<option out>/runner-<pid>.json``: ``pyspark.__file__``,
    ``sys.orig_argv``, the archives in ``zipimport``'s directory cache,
    the modules loaded from a zip, and ``ready_ms``, the process's age
    (``/proc/self/stat``). Built in a function, so it is pickled by
    value and the runner needs no import from this file."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

    class OriginReader(DataSourceStreamReader):
        def __init__(self, out):
            self.out = out

        def initialOffset(self):
            import json
            import os
            import sys
            import zipimport

            import pyspark

            with open("/proc/self/stat") as f:
                started = int(f.read().rsplit(")", 1)[1].split()[19])
            with open("/proc/uptime") as f:
                uptime = float(f.read().split()[0])
            ready_ms = (uptime - started / os.sysconf("SC_CLK_TCK")) * 1e3
            zip_modules = sum(
                1 for m in list(sys.modules.values())
                if isinstance(getattr(m, "__loader__", None), zipimport.zipimporter))
            record = {
                "pyspark": pyspark.__file__,
                "argv": sys.orig_argv,
                "zip_directories": sorted(
                    os.path.basename(a) for a in zipimport._zip_directory_cache),
                "zip_modules": zip_modules,
                "ready_ms": round(ready_ms),
            }
            with open(os.path.join(self.out, f"runner-{os.getpid()}.json"), "w") as f:
                json.dump(record, f)
            return {"offset": 0}

        def latestOffset(self):
            return {"offset": 1}

        def partitions(self, start, end):
            return [InputPartition(0)]

        def read(self, partition):
            yield (1,)

    class OriginSource(DataSource):
        @classmethod
        def name(cls):
            return "worker_origin"

        def schema(self):
            return "id int"

        def streamReader(self, schema):
            return OriginReader(self.options["out"])

    return OriginSource


def start_origin_query(spark, out: str, ckpt: str) -> tuple[float, dict]:
    """One ``availableNow`` query over :func:`make_origin_source` into
    the ``noop`` sink; (start() → end ms, the runner's record)."""
    spark.dataSource.register(make_origin_source())
    before = set(Path(out).glob("runner-*.json"))
    t = time.perf_counter()
    q = (
        spark.readStream.format("worker_origin").option("out", out).load()
        .writeStream.format("noop").trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start()
    )
    q.awaitTermination()
    ms = (time.perf_counter() - t) * 1e3
    if q.exception() is not None:
        raise RuntimeError(f"probe query failed: {q.exception()}")
    (new,) = set(Path(out).glob("runner-*.json")) - before
    return ms, json.loads(new.read_text())


def run_source_runner(spark) -> dict:
    """:data:`RUNNER_STARTS` starts of :func:`start_origin_query`, after
    one unmeasured start; the medians and the last runner's record."""
    with tempfile.TemporaryDirectory(prefix="worker_overhead_runner_") as tmp:
        starts = [start_origin_query(spark, tmp, f"{tmp}/ckpt-{i}")
                  for i in range(RUNNER_STARTS + 1)][1:]
    last = starts[-1][1]
    return {
        "starts": RUNNER_STARTS,
        "query_start_ms": round(statistics.median(ms for ms, _ in starts)),
        "runner_ready_ms": round(statistics.median(r["ready_ms"] for _, r in starts)),
        "pyspark": last["pyspark"],
        "argv": last["argv"],
        "zip_directories": last["zip_directories"],
        "zip_modules": last["zip_modules"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=20)
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args(argv)
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from dolphinbeat_spark.session import get_spark

    spark = get_spark("worker_overhead", master=args.master)
    try:
        run_probe(spark)  # worker start-up is not a per-task cost
        samples = [run_probe(spark) for _ in range(args.jobs)]
        stream = run_stream(spark)
        source_runner = run_source_runner(spark)
    finally:
        spark.stop()
    rows = [r for _, r in samples]
    deltas = per_task_deltas(rows)
    print(json.dumps({
        "jobs": args.jobs,
        "job_ms": round(statistics.median(ms for ms, _ in samples), 1),
        "setup_spark_files_ms": round(
            statistics.median(r["setup_spark_files_ms"] for r in rows), 1),
        "zip_reads": statistics.median(r["zip_reads"] for r in rows),
        "guard": rows[-1]["guard"],
        "input_wait_ms": round(statistics.median(r["input_wait_ms"] for r in rows), 1),
        "worker_cpu_ms": round(statistics.median(d["cpu_ms"] for d in deltas), 1),
        "gc_ms_per_task": round(statistics.median(d["gc_ms"] for d in deltas), 1),
        "gen2_collections_per_task": round(
            statistics.mean(d["gen2_collections"] for d in deltas), 2),
        "task_worker": rows[-1]["task_worker"],
        "freeze_count": rows[-1]["freeze_count"],
        "gen2_objects": rows[-1]["gen2_objects"],
        "worker_pids": len({r["pid"] for r in rows}),
        "stream": stream,
        "source_runner": source_runner,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
