#!/usr/bin/env python3
"""Renders the per-layer table of a traced run record as markdown.

    python3 perfbench/report.py perfbench/out/curation_batch-seed1-trace1.json

The record is the file run.py writes for a --trace 1 run. The table gives
each layer's self time (summed over its spans) with its share of the
traced pass wall, the number of spans, the spans with the most self time,
and the per-layer metrics with the bases of their ratios (the spark.*
totals, and their bases, are the last timed pass's; the tracing overhead
is the traced wall minus the mean wall of the untraced passes before and
after it).
"""
import json
import sys
from collections import defaultdict


def render(rec):
    spans = rec.get("spans") or []
    traced = rec.get("traced_passes") or []
    if not spans or not traced:
        raise SystemExit("not a traced run record (run with --trace 1)")
    wall_ms = traced[0]["wall_s"] * 1000
    m = {k: v["value"] for k, v in rec["metrics"].items()}
    by_layer = defaultdict(lambda: [0.0, 0])
    for s in spans:
        by_layer[s["layer"]][0] += s["self_ms"]
        by_layer[s["layer"]][1] += 1
    # the spark.* totals are those of the last timed pass; the overhead's
    # base is the mean of the untraced passes before and after the traced one
    base_s = wall_ms / 1000 - m["trace.overhead_s"]
    timed_s = [p["wall_s"] for p in rec["passes"] if p["hashes"]][-1]
    out = [f"traced pass wall {wall_ms / 1000:.3f} s; mean of the untraced passes before and "
           f"after it {base_s:.3f} s; tracing overhead {m['trace.overhead_s']:+.3f} s "
           f"({m['trace.overhead_s'] / base_s:+.1%}); last timed pass {timed_s:.3f} s",
           "", "| layer | self s | share of traced wall | spans |", "|---|---|---|---|"]
    for layer, (self_ms, n) in sorted(by_layer.items(), key=lambda x: -x[1][0]):
        out.append(f"| {layer} | {self_ms / 1000:.3f} | {self_ms / wall_ms:.1%} | {n} |")
    by_id = {s["id"]: s for s in spans}

    def job_of(s):
        while s["layer"] != "jobs" and s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s["name"]

    out += ["", "| span (layer) | job | self s | wall s |", "|---|---|---|---|"]
    for s in sorted(spans, key=lambda s: -s["self_ms"])[:15]:
        out.append(f"| {s['name']} ({s['layer']}) | {job_of(s)} | {s['self_ms'] / 1000:.3f} "
                   f"| {s['dur_ms'] / 1000:.3f} |")
    cores = rec.get("cores", 4)
    run_s = m["spark.task_cpu_s"] + m["spark.task_blocked_s"]
    out += ["", "| per-layer metric | value | base |", "|---|---|---|"]
    bases = {
        "spark.core_util": f"task run {run_s:.3f} s / (wall {timed_s:.3f} s x {cores} cores)",
        "spark.driver_gap_s": f"{m['spark.driver_gap_s'] / timed_s:.1%} of the timed pass wall",
        "spark.task_blocked_s": f"{m['spark.task_blocked_s'] / run_s:.1%} of task run time" if run_s else "",
        "operators.spark_jobs": f"{m['operators.spark_jobs'] / m['spark.jobs']:.1%} of {m['spark.jobs']:.0f} jobs"
        if m["spark.jobs"] else "",
    }
    for k, v in rec["metrics"].items():
        if v["value"] or k in bases:
            out.append(f"| {k} | {v['value']:.6g} {v['unit']} | {bases.get(k, '')} |")
    return "\n".join(out)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        print(render(json.load(fh)))
