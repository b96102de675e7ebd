"""The traced phase: run the workload again with spans and job groups
on, then derive every per-layer metric, the largest layer, how much of
the end-to-end wall the layer times cover, and the tracing overhead
against the untraced phase just before it. The traced phase runs
later, so on a stream still warming up (tail) part of that difference
is warm-up; ``compare.py`` also sets the traced numbers against the
untraced runs of the same workload."""

from __future__ import annotations

import time
from pathlib import Path

from layers import call_shape, stage_totals, streaming_layers
from probe import Spans, median
from workloads import _decode_ref_s, _du


def traced_layers(wl, status, untraced, seconds: float, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics and the report for a traced phase run after
    the ``untraced`` one."""
    wl.spans = Spans(True)
    job0 = status.max_job_id()
    t = time.perf_counter()
    ph = wl.measure(seconds)
    wall = time.perf_counter() - t
    jobs = status.jobs(after=job0)
    tot = stage_totals(status, jobs)
    shape = call_shape(status, jobs, "sinks")
    calls = wl.spans.durations("sinks")
    out = {k: 0.0 for k in (
        "sources.dump_ms_p50", "sources.connections", "sinks.produce_s",
        "gen.offered_events_per_s",
        "gen.lateness_ms_max")}
    out.update(streaming_layers(ph.progress))
    out.update({
        "sinks.call_ms_p50": median(calls) * 1e3,
        "sinks.call_s": sum(calls),
        "sinks.jobs_per_call": shape["jobs_per_call"],
        "sinks.final_stage_tasks": shape["final_stage_tasks"],
        "session.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "session.executor_run_s": tot["run_ms"] / 1e3,
        "session.busy_share": tot["run_ms"] / 1e3 / (wall * cores),
        "session.gc_s": tot["gc_ms"] / 1e3,
        "session.shuffle_read_mb": tot["shuffle_read"] / 2**20,
        "session.shuffle_write_mb": tot["shuffle_write"] / 2**20,
        "session.spill_mb": tot["spill"] / 2**20,
        "session.jobs": len(jobs),
        "session.tasks": tot["tasks"],
    })
    if wl.name == "replay":
        out["sinks.produce_s"] = ph.extra["produce_s"]
        out["sinks.bytes_out"] = ph.extra["bytes_out"]
        out["sinks.messages"] = ph.extra["messages"]
        # closed loop: everything is offered at a pass's start, and the
        # generator is "late" by the gap between one pass and the next
        out["gen.offered_events_per_s"] = ph.events / ph.wall
        out["gen.lateness_ms_max"] = ph.extra["gap_ms_max"]
        out["sources.dump_ms_p50"] = wl.provider_dump_ms()
    else:
        last = wl.phases[-1]
        stats = last["stats"]
        out["sources.dump_ms_p50"] = median([d["ms"] for d in stats["dumps"]])
        out["sources.connections"] = stats["connections"]
        out["gen.offered_events_per_s"] = stats["offered_events_per_s"]
        out["gen.lateness_ms_max"] = stats["lateness_ms_max"]
        # OrderedFileSink hands its output over in its last job, the
        # parquet write; its wall comes from the status store
        out["sinks.produce_s"] = shape["last_job_s"]
        out["sinks.bytes_out"] = _du(Path(last["out_dir"]))
        out["sinks.messages"] = sum(c[3] for c in last["commits"])

    # the read pass's tasks decode in Python workers, whose CPU the
    # JVM task metrics do not see: take it from the process tree
    cpu0 = wl.tree.cpu_seconds()
    rp = wl.read_pass()
    out["sources.task_cpu_s"] = wl.tree.cpu_seconds() - cpu0
    read_batch_ms = sum(p["durationMs"].get("addBatch", 0) for p in rp.get("progress", []))
    out["sources.read_s"] = rp["read_s"]
    out["sources.decode_ref_s"], _ = _decode_ref_s(rp["decode_paths"])
    out["sources.parse_amplification"] = out["sources.task_cpu_s"] / out["sources.decode_ref_s"]
    out["operators.route_in_rows"] = rp["route_in_rows"]
    out["operators.route_out_rows"] = _routed_events(wl)

    e2e_u, _ = untraced.e2e(0.0)
    e2e_t, _ = ph.e2e(0.0)
    rep = {
        "traced": {k: v for k, (v, _u) in e2e_t.items() if k != "setup_s"},
        "trace_overhead_pct": {
            k: 100.0 * (e2e_t[k][0] - e2e_u[k][0]) / e2e_u[k][0]
            for k in ("events_per_s", "latency_p50_ms", "merge_p50_ms", "cpu_s")},
        "layers": split(wl.name, out, ph, read_batch_ms / 1e3),
        "per_layer": out,
    }
    return out, rep


def _routed_events(wl) -> int:
    """Envelope events that left the router in one pass of the input
    the read pass covered."""
    if wl.name == "replay":
        return wl.n_events
    return sum(c[3] for c in wl.phases[-1]["commits"])


def split(name: str, m: dict, ph, read_batch_s: float) -> dict:
    """Layer times per unit of work (seconds) and their share of the
    end-to-end wall they sit inside; names the largest layer."""
    call = m["sinks.call_ms_p50"] / 1e3
    plan = m["sources.plan_ms_p50"] / 1e3
    other = (m["streaming.trigger_ms_p50"] - plan) / 1e3 - call
    read = min(read_batch_s, call) if name == "replay" else 0.0
    parts = {"sources": plan + read, "sinks": call - read, "streaming": max(0.0, other)}
    if name == "replay":
        wall = median(ph.unit_walls)
        basis = "median replay pass wall; the rest is query start and stop"
    else:
        wall = median(ph.latencies)
        basis = "latency_p50; the rest is the wait for the batch in flight"
    covered = sum(parts.values())
    return {"seconds": parts, "largest": max(parts, key=parts.get),
            "wall_s": wall, "basis": basis, "covered_share": covered / wall,
            "rest_s": wall - covered}
