"""Per-task and per-batch fixed costs of a ``get_spark`` session.

    python tools/worker_overhead.py [--jobs 20] [--master local[2]]

Runs ``--jobs`` one-row ``mapInArrow`` jobs, one after another, then a
``rate-micro-batch`` → ``foreachBatch`` stream for :data:`STREAM_BATCHES` micro-batches, and
prints one JSON line of medians over them. Per task:

- ``job_ms``: the job's wall on the driver;
- ``setup_spark_files_ms``: one call of
  ``pyspark.worker_util.setup_spark_files`` (the start of every task,
  whose ``importlib.invalidate_caches()`` re-reads zip directories)
  timed by the task's own clock, inside the task;
- ``zip_reads``: ``zipimport._read_directory`` calls in that call.

The last job's worker also names the ``zipimporter.invalidate_caches``
its process runs (``guard``). A worker-bootstrap regression shows up
as ``setup_spark_files_ms`` and ``zip_reads`` rising.

Per micro-batch (``stream``), from the query's progress reports and
``/proc/stat``: the medians of ``walCommit`` and ``commitOffsets`` (the
offset and commit log writes) and of ``triggerExecution``, and
``machine_process_creations_per_batch``, the processes created on the
whole machine (every process, not only this session's) divided by the
batches run. A checkpoint writer that forks per status check, as
Hadoop's local filesystem does without its native library, shows up
as both rising.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

PROBE_SCHEMA = "pid long, guard string, zip_reads long, setup_spark_files_ms double"

#: micro-batches the stream probe measures
STREAM_BATCHES = 20


def make_probe():
    """A ``mapInArrow`` function: each task runs the worker's per-task
    ``setup_spark_files`` once more, on an empty include list, and
    yields one row of what that cost in its process. Built as a
    closure, so it is shipped by value and needs no import on the
    worker."""

    def probe(batches):
        import io
        import os
        import struct
        import time
        import zipimport

        import pyarrow as pa
        from pyspark import worker_util
        from pyspark.core.files import SparkFiles

        for _ in batches:
            pass
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
        }])

    return probe


def run_probe(spark):
    """One one-row ``mapInArrow`` job; (job wall ms, the task's row)."""
    df = spark.range(1, numPartitions=1).mapInArrow(make_probe(), PROBE_SCHEMA)
    t = time.perf_counter()
    row = df.collect()[0]
    return (time.perf_counter() - t) * 1e3, row


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
    finally:
        spark.stop()
    rows = [r for _, r in samples]
    print(json.dumps({
        "jobs": args.jobs,
        "job_ms": round(statistics.median(ms for ms, _ in samples), 1),
        "setup_spark_files_ms": round(
            statistics.median(r["setup_spark_files_ms"] for r in rows), 1),
        "zip_reads": statistics.median(r["zip_reads"] for r in rows),
        "guard": rows[-1]["guard"],
        "worker_pids": len({r["pid"] for r in rows}),
        "stream": stream,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
