"""Compare two sets of benchmark results, metric by metric.

    python3 cdcbench/compare.py BASE NEW [--json]

BASE and NEW are each a file holding one run result per line (the
``result.json`` a run leaves in ``cdcbench/_work/runs/<run>/``), or a
directory searched for ``*/result.json``. Runs are grouped by
workload; untraced runs give the end-to-end verdicts, traced runs the
layer-by-layer deltas.

It also lists the tracing overhead in NEW: the traced phases' medians
against the untraced runs' medians, per workload.

Verdict per (metric, workload), with the bounds from BENCHMARK.json:

- ``worse``: NEW's median is worse than BASE's by more than the bound;
- ``better``: NEW wins at least nine tenths of the run pairs (paired
  by seed when both sides ran the same seeds, else in order) and the
  medians differ by more than BASE's interquartile range;
- ``unresolved``: neither. ``within_bound`` says whether NEW stayed
  inside the bound, ``spread`` whether BASE's own quartile spread was
  wider than the bound (then no change of that size can be resolved).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from layers import moves  # noqa: E402


def load(path: str) -> list[dict]:
    p = Path(path)
    files = sorted(p.glob("*/result.json")) if p.is_dir() else [p]
    runs = []
    for f in files:
        for line in f.read_text().splitlines():
            line = line.strip()
            if line:
                runs.append(json.loads(line))
    return runs


def spread(values: list[float]) -> tuple[float, float, float]:
    """(median, q1, q3) as statistics.quantiles gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3


def verdict(base: list[tuple], new: list[tuple], better: str, bound: float) -> dict:
    """``base``/``new``: [(seed, value)]."""
    sign = 1.0 if better == "lower" else -1.0
    bv, nv = [v for _, v in base], [v for _, v in new]
    bm, bq1, bq3 = spread(bv)
    nm, _, _ = spread(nv)
    worse_by = sign * (nm - bm) / bm if bm else 0.0
    bs, ns = dict(base), dict(new)
    common = sorted(set(bs) & set(ns))
    pairs = ([(bs[s], ns[s]) for s in common] if len(common) >= min(len(bv), len(nv))
             else list(zip(bv, nv)))
    wins = sum(sign * (b - n) > 0 for b, n in pairs)
    if worse_by > bound:
        v = "worse"
    elif pairs and wins >= 0.9 * len(pairs) and abs(nm - bm) > bq3 - bq1:
        v = "better"
    else:
        v = "unresolved"
    return {"verdict": v, "base_median": bm, "new_median": nm,
            "change_pct": 100.0 * (nm - bm) / bm if bm else 0.0,
            "wins": f"{wins}/{len(pairs)}", "within_bound": worse_by <= bound,
            "spread": (bq3 - bq1) / bm > bound if bm else False}


def by_workload(runs: list[dict], traced: bool) -> dict[str, dict[str, list]]:
    out: dict[str, dict[str, list]] = {}
    for r in runs:
        rep = r.get("report", {})
        if ("per_layer" in rep) != traced or not r.get("correct"):
            continue
        for name, m in r["metrics"].items():
            out.setdefault(rep["workload"], {}).setdefault(name, []).append(
                (rep.get("seed"), m["value"]))
    return out


def compare(base_runs: list[dict], new_runs: list[dict], bench: dict) -> dict:
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    result = {"end_to_end": [], "layers": []}
    b, n = by_workload(base_runs, False), by_workload(new_runs, False)
    for wl in sorted(set(b) & set(n)):
        for name, m in e2e.items():
            if name in b[wl] and name in n[wl]:
                result["end_to_end"].append({"workload": wl, "metric": name, **verdict(
                    b[wl][name], n[wl][name], m["better"], m["bound"])})
    b, n = by_workload(base_runs, True), by_workload(new_runs, True)
    for wl in sorted(set(b) & set(n)):
        for m in bench["per_layer"]:
            name = m["name"]
            if name in b[wl] and name in n[wl]:
                bm = spread([v for _, v in b[wl][name]])[0]
                nm = spread([v for _, v in n[wl][name]])[0]
                result["layers"].append({
                    "workload": wl, "metric": name, "base_median": bm, "new_median": nm,
                    "change_pct": 100.0 * (nm - bm) / bm if bm else None})
    result["trace_overhead"] = trace_overhead(new_runs)
    return result


def trace_overhead(runs: list[dict]) -> list[dict]:
    """Per workload: the traced phases' median against the untraced
    runs' median, for the end-to-end metrics a traced run reports."""
    out = []
    plain = by_workload(runs, False)
    traced: dict[str, dict[str, list]] = {}
    for r in runs:
        rep = r.get("report", {})
        for name, v in rep.get("traced", {}).items():
            traced.setdefault(rep["workload"], {}).setdefault(name, []).append(v)
    for wl in sorted(set(plain) & set(traced)):
        for name, vals in traced[wl].items():
            if name in plain[wl]:
                um = spread([v for _, v in plain[wl][name]])[0]
                tm = spread(vals)[0]
                out.append({"workload": wl, "metric": name, "untraced_median": um,
                            "traced_median": tm,
                            "overhead_pct": 100.0 * (tm - um) / um if um else None})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=str(HERE.parent / "BENCHMARK.json"))
    ap.add_argument("--json", action="store_true", help="print the comparison as JSON")
    args = ap.parse_args(argv)
    bench = json.loads(Path(args.benchmark).read_text())
    res = compare(load(args.base), load(args.new), bench)
    if args.json:
        print(json.dumps(res, indent=1))
        return 0
    print(f"{'workload':8} {'metric':16} {'verdict':10} {'base':>12} {'new':>12} "
          f"{'change':>8} {'wins':>6}  notes")
    for r in res["end_to_end"]:
        notes = ("" if r["within_bound"] else "outside bound ") + (
            "base spread > bound" if r["spread"] else "")
        print(f"{r['workload']:8} {r['metric']:16} {r['verdict']:10} {r['base_median']:12.4g} "
              f"{r['new_median']:12.4g} {r['change_pct']:+7.1f}% {r['wins']:>6}  {notes}")
    if res["layers"]:
        print("\nlayer-by-layer (traced runs, medians)")
        for r in res["layers"]:
            ch = "" if r["change_pct"] is None else f"{r['change_pct']:+7.1f}%"
            print(f"{r['workload']:8} {r['metric']:34} {r['base_median']:12.4g} "
                  f"{r['new_median']:12.4g} {ch:>8}  moves {moves(r['metric'])}")
    if res["trace_overhead"]:
        print("\ntracing overhead in NEW (traced phases vs untraced runs, medians)")
        for r in res["trace_overhead"]:
            ch = "" if r["overhead_pct"] is None else f"{r['overhead_pct']:+7.1f}%"
            print(f"{r['workload']:8} {r['metric']:16} {r['untraced_median']:12.4g} "
                  f"{r['traced_median']:12.4g} {ch:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
