"""Per-layer metrics for the traced run, read from outside the engine:
the spans the benchmark recorded around public calls, the streaming
progress events (``StreamingQueryProgress.durationMs``), and Spark's
status store — jobs, their job group and their stages' task metrics —
which stays populated with the UI disabled.

The names follow the package modules (``sources``, ``operators``,
``sinks``, ``streaming``) plus ``session`` for the Spark session as a
whole and ``gen`` for the load generator; ``BENCHMARK.json`` lists
them with their units. ``LAYER_MAP`` records which end-to-end metric
each group should move, and on which workload.
"""

from __future__ import annotations

from contextlib import contextmanager

from probe import median

#: layer group -> the end-to-end metrics (and workloads) it should move
LAYER_MAP = {
    "sources.plan_ms_p50, sources.dump_ms_p50, sources.connections":
        {"tail": ["latency_p50_ms", "drain_s"]},
    "sources.read_s, sources.task_cpu_s, sources.decode_ref_s, sources.parse_amplification":
        {"replay": ["events_per_s", "cpu_s"]},
    "operators.route_in_rows, operators.route_out_rows": {},
    "sinks.call_ms_p50, sinks.call_s, sinks.jobs_per_call, sinks.final_stage_tasks, "
    "sinks.produce_s, sinks.bytes_out, sinks.messages":
        {"replay": ["events_per_s"], "tail": ["latency_p50_ms"]},
    "streaming.*": {"tail": ["latency_p50_ms", "latency_p99_ms", "drain_s"], "replay": []},
    "session.*": {"replay": ["cpu_s", "events_per_s"], "tail": ["cpu_s"]},
    "gen.*": {"tail": []},
}


def moves(metric: str) -> str:
    """The end-to-end metrics ``metric`` should move, as 'metric@workload'."""
    for group, targets in LAYER_MAP.items():
        names = [g.strip() for g in group.split(",")]
        if any(metric == n or (n.endswith(".*") and metric.startswith(n[:-1]))
               for n in names):
            return " ".join(f"{m}@{w}" for w, ms in targets.items() for m in ms) or "-"
    return "-"


class SparkStatus:
    """Jobs and stages from the driver's status store (py4j)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    @contextmanager
    def group(self, name: str):
        """Tag jobs the calling thread starts with job group ``name``;
        the thread's previous group (a streaming query's run id) is
        restored after."""
        keys = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")
        saved = {k: self.sc.getLocalProperty(k) for k in keys}
        self.sc.setJobGroup(name, name, False)
        try:
            yield
        finally:
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)

    def max_job_id(self) -> int:
        return max((j["id"] for j in self.jobs()), default=-1)

    def jobs(self, after: int = -1) -> list[dict]:
        out = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= after:
                continue
            g, t0, t1 = j.jobGroup(), j.submissionTime(), j.completionTime()
            sids = j.stageIds()
            out.append({"id": j.jobId(), "group": g.get() if g.isDefined() else None,
                        "stages": sorted(sids.apply(i) for i in range(sids.length())),
                        "ms": (t1.get().getTime() - t0.get().getTime()
                               if t0.isDefined() and t1.isDefined() else 0)})
        return sorted(out, key=lambda j: j["id"])

    def stage(self, sid: int) -> dict | None:
        try:
            s = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            return None
        return {"tasks": s.numTasks(), "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(), "gc_ms": s.jvmGcTime(),
                "shuffle_read": s.shuffleReadBytes(), "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "status": str(s.status())}


def stage_totals(status: SparkStatus, jobs: list[dict]) -> dict:
    """Task metrics summed over the stages the jobs ran (each stage
    once, skipped stages contribute nothing)."""
    seen, tot = set(), {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    for j in jobs:
        for sid in j["stages"]:
            if sid in seen:
                continue
            seen.add(sid)
            st = status.stage(sid)
            if st is None or st["status"] == "SKIPPED":
                continue
            for k in tot:
                tot[k] += st[k]
    return tot


def call_shape(status: SparkStatus, jobs: list[dict], layer: str) -> dict:
    """Over the calls into ``layer`` (each call's jobs carry the job
    group ``<layer>#<n>``): median jobs per call, median tasks in a
    call's final stage, and the summed wall of each call's last job."""
    by_call: dict[str, list[dict]] = {}
    for j in jobs:
        if (j["group"] or "").startswith(layer + "#"):
            by_call.setdefault(j["group"], []).append(j)
    calls = list(by_call.values())
    if not calls:
        return {"jobs_per_call": 0.0, "final_stage_tasks": 0.0, "last_job_s": 0.0}
    finals = []
    for c in calls:
        last = [s for s in c[-1]["stages"] if (status.stage(s) or {}).get("status") != "SKIPPED"]
        finals.append((status.stage(max(last)) or {}).get("tasks", 0) if last else 0)
    return {"jobs_per_call": median([len(c) for c in calls]),
            "final_stage_tasks": median(finals),
            "last_job_s": sum(c[-1]["ms"] for c in calls) / 1e3}


def streaming_layers(progress: list[dict]) -> dict:
    """Per-batch phase medians from StreamingQueryProgress.durationMs,
    over the batches that read data."""
    rows = [p for p in progress if p.get("numInputRows", 0) > 0]

    def p50(key) -> float:
        vals = [p["durationMs"].get(key, 0) for p in rows]
        return median(vals) if vals else 0.0

    overhead = [p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
                for p in rows]
    return {
        "streaming.batches": len(rows),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.overhead_ms_p50": median(overhead) if overhead else 0.0,
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "sources.plan_ms_p50": p50("latestOffset"),
    }
