#!/usr/bin/env python3
"""Layer report from traced runs.

    python3 perfbench/report.py --traces perfbench/results/trace_*.json \\
        --untraced perfbench/results/runs_a.jsonl > perfbench/results/LAYERS.md

For each workload's first trace file it prints every layer's self time (a span's
duration minus the part of its interval its child spans cover), summed
over the measured units, as a share of the timed wall; the share the layer
spans account for; the dominant layer; the Spark counts attributed to each
layer; and the tracing overhead: the median of the workload's traced runs'
end-to-end figures minus the median of its untraced runs.
"""
import argparse
import json
import statistics
from collections import defaultdict

# spans the benchmark opens around a group of engine calls; their self
# time is the harness's own, not a layer's
HARNESS = {"cycle", "commit"}


def layer(name):
    return name.split("/", 1)[0]


def union(iv):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(x for x in iv if x[1] > x[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Recomputes self time from start/end/parent (the file's own
    self_us is the same figure; recomputing checks it)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        cov = union([(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                     for c in kids[s["id"]]])
        out[s["id"]] = s["end_us"] - s["start_us"] - cov
    return out


def report(trace, untraced, traced_runs):
    w = trace["workload"]
    units = trace["units"]
    wall = sum(b - a for a, b in units)
    main = [s for s in trace["spans"] if s["lane"] == "main"]
    st = self_times(main)
    parents = {s["parent"] for s in main}
    per = defaultdict(lambda: {"self_us": 0, "calls": 0, "jobs": 0, "stages": 0, "tasks": 0,
                               "task_cpu_s": 0.0, "driver_gap_s": 0.0})
    for s in main:
        p = per[layer(s["name"])]
        p["self_us"] += st[s["id"]]
        p["calls"] += 1
        for k in ("jobs", "stages", "tasks"):
            p[k] += s[k]
        p["task_cpu_s"] += s["task_cpu_s"]
        # a span's driver gap is its wall outside its own stages; for a
        # span with children that wall is mostly theirs, so it is not shown
        if s["id"] in parents:
            p["driver_gap_s"] = None
        elif p["driver_gap_s"] is not None:
            p["driver_gap_s"] += s["driver_gap_s"]
    layers = {k: v for k, v in per.items() if k not in HARNESS}
    covered = sum(v["self_us"] for v in layers.values())
    dominant = max(layers, key=lambda k: layers[k]["self_us"])
    h = trace["host"]
    print(f"## {w}\n")
    print(f"Traced run: seed {trace['seed']}, {len(units)} unit(s), timed wall "
          f"{wall / 1e6:.2f} s, host nproc {h['nproc']}, {h['spark_master']}, "
          f"JVM heap {h['heap_max_mb']} MB.\n")
    print("| layer | calls | self s | share of wall | jobs | stages | tasks | task CPU s | driver gap s |")
    print("|---|---:|---:|---:|---:|---:|---:|---:|---:|")
    for k, v in sorted(per.items(), key=lambda kv: -kv[1]["self_us"]):
        name = f"{k} (harness)" if k in HARNESS else k
        gap = "—" if v["driver_gap_s"] is None else f"{v['driver_gap_s']:.2f}"
        print(f"| {name} | {v['calls']} | {v['self_us'] / 1e6:.3f} | {v['self_us'] / wall:.1%} | "
              f"{v['jobs']} | {v['stages']} | {v['tasks']} | {v['task_cpu_s']:.2f} | {gap} |")
    print(f"\nLayer spans' self time covers {covered / wall:.1%} of the timed wall. "
          f"Dominant layer: **{dominant}** ({layers[dominant]['self_us'] / wall:.1%}).")
    serve = [s for s in trace["spans"] if s["lane"] == "serve"]
    if serve:
        print(f"Serving lane (concurrent with the above): {len(serve)} requests, "
              f"Spark work submitted by Serve: {json.dumps(trace['serve_lane_counts'])}.")
    if untraced:
        print(f"\nTracing overhead: the median of {len(traced_runs)} traced run(s) minus the "
              f"median of {len(untraced)} untraced runs. An overhead smaller than the "
              "run-to-run spread (see the run summaries) does not show here:\n")
        print("| metric | untraced median | traced median | overhead |")
        print("|---|---:|---:|---:|")
        for k in sorted(dict(trace["end_to_end"], setup_s=0)):
            vals = [r["result"]["metrics"][k]["value"] for r in untraced
                    if k in r["result"]["metrics"]]
            tv = [t["setup_s"] if k == "setup_s" else t["end_to_end"][k] for t in traced_runs]
            if not vals:
                continue
            med, tmed = statistics.median(vals), statistics.median(tv)
            print(f"| {k} | {med:.4f} | {tmed:.4f} | {(tmed - med) / med:+.1%} |")
    print()
    return {"workload": w, "coverage": covered / wall, "dominant": dominant}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--traces", nargs="+", required=True)
    ap.add_argument("--untraced", nargs="*", default=[])
    args = ap.parse_args()
    rows = [json.loads(l) for p in args.untraced for l in open(p) if l.strip()]
    print("# Layer report\n")
    print("Generated by `perfbench/report.py` from the committed traced runs. Self time is a "
          "span's duration minus the part of its interval its child spans cover; a layer's "
          "self time is summed over its calls in the measured units.\n")
    traces = []
    for p in args.traces:
        with open(p) as f:
            traces.append(json.load(f))
    for w in dict.fromkeys(t["workload"] for t in traces):
        mine = [t for t in traces if t["workload"] == w]
        un = [r for r in rows if r["workload"] == w and r["trace"] == 0 and r["result"]]
        report(mine[0], un, mine)


if __name__ == "__main__":
    main()
