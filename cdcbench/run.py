"""CDC benchmark: binlog bytes to a committed sink.

    python3 cdcbench/run.py --workload replay --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``replay`` and ``tail``. Run
from the repository root or anywhere else; the benchmark reads and
writes only under ``cdcbench/_work`` of its own checkout: inputs cached
by seed in ``_work/inputs``, one directory per run in ``_work/runs``
(Spark's local and temporary directories included).

The run starts a Spark session (master and ``SPARK_GRAFT_CPUS`` pinned
to the CPUs this process may use), prepares the inputs three times
(generated from the seed, cached by seed), warms up once, then
measures for ``--seconds``. ``setup_s`` is the session start plus the
median preparation plus the warm-up. Every output is checked against
the generator's reference; a sink call that raises fails the run.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures a
traced phase after the untraced one and prints the per-layer metrics;
a report line before the result names the largest layer, how much of
the end-to-end wall the layer times cover, and the tracing overhead
against the untraced phase. Spans go to ``spans.jsonl`` in the run's
directory.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"


def _environment(run_dir: Path) -> int:
    """Pin the engine to this process's CPUs and keep every file it
    writes inside the run's directory. Must run before pyspark is
    imported."""
    n = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    path = os.pathsep.join(p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        # executors' Python workers import the engine and the benchmark
        "PYTHONPATH": path,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_LOCAL_DIR": str(run_dir / "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("SPARK_MASTER", None)
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="CDC end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=("replay", "tail"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("dolphinbeat_spark/__init__.py", "BENCHMARK.json"):
        if not (ROOT / need).is_file():
            print(f"error: no {need} next to {HERE}", file=sys.stderr)
            return 2
    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = _environment(run_dir)

    from layers import SparkStatus
    from probe import HostStamp, ProcessTree, median
    from workloads import WORKLOADS

    from dolphinbeat_spark.session import get_spark

    stamp = HostStamp()
    tree = ProcessTree()
    t = time.perf_counter()
    spark = get_spark("cdcbench", master=f"local[{cores}]")
    session_s = time.perf_counter() - t
    wl = None
    try:
        status = SparkStatus(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir, WORK / "inputs", tree, status)
        prep = []
        for _ in range(3):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = session_s + median(prep) + warm_s
        phase = wl.measure(args.seconds)
        e2e, shape = phase.e2e(setup_s)
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "cores": cores, "session_s": session_s, "prepare_s": prep,
                  "warmup_s": warm_s, **shape, **phase.extra}
        if args.trace:
            from report import traced_layers

            layers, rep = traced_layers(wl, status, phase, args.seconds, cores)
            report.update(rep)
        wl.check()
        attempted = sum(a for a, _, _ in wl.checks) + len(phase.call_walls)
        failed = sum(f for _, f, _ in wl.checks)
        report["checks"] = wl.checks
        if args.trace:
            layers["error_ratio"] = failed / max(1, attempted)
            per_layer = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
            metrics = {m["name"]: {"value": float(layers[m["name"]]), "unit": m["unit"]}
                       for m in per_layer}
            wl.spans.write(run_dir / "spans.jsonl")
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    finally:
        if wl is not None:
            wl.close()
        _stop_engine(spark, tree)
    report["host"] = stamp.finish()
    result = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    (run_dir / "result.json").write_text(json.dumps({"report": report, **result}, default=str))
    _tidy(run_dir)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


def _stop_engine(spark, tree) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit
    (the JVM ends when its stdin pipe closes)."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(tree.pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _tidy(run_dir: Path) -> None:
    """Keep each run's result and spans, drop its data directories."""
    for p in run_dir.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
