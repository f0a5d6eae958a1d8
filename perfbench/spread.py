#!/usr/bin/env python3
"""Repeat benchmark runs over several seeds and summarize their spread.

    python3 perfbench/spread.py --workloads etl_cycle,query_mix --seeds 1-10 \\
        --out perfbench/results/runs_a.jsonl
    python3 perfbench/spread.py --summarize perfbench/results/runs_a.jsonl
    python3 perfbench/spread.py --compare perfbench/results/runs_a.jsonl \
        perfbench/results/runs_b.jsonl

Each run appends one JSON line: workload, seed, wall seconds, the host
line the JVM printed and the result object. The summary gives, per
workload and end-to-end metric, the median, the quartiles (Python's
statistics.quantiles, n=4) and the spread (q3 - q1) / median, next to the
bound BENCHMARK.json allows. `--compare` checks two sets of the same
code against each other: each set's spreads, and how far the second set's
median moved from the first's, against each bound. Run from the repository
root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    host = next((l for l in lines if l.startswith("[perfbench] host")), "")
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    failures = [l for l in lines if l.startswith("[perfbench] FAILED")]
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "wall_s": round(time.time() - t0, 3), "host": host, "failures": failures,
            "result": result}


def summarize(path, bench):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out = {}
    for w in sorted({r["workload"] for r in rows}):
        rs = [r for r in rows if r["workload"] == w and r["result"] and r["trace"] == 0]
        walls = [r["wall_s"] for r in rows if r["workload"] == w]
        print(f"{w}: {len(rs)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed runs {sum(1 for r in rows if r['workload'] == w and r['exit'] != 0)}")
        out[w] = {"runs": len(rs), "wall_s_median": statistics.median(walls), "metrics": {}}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in rs if name in r["result"]["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            out[w]["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                       "bound": bound}
            flag = "" if bound is None or spread < bound / 3 else ("  > bound/3" if spread <= bound else "  > BOUND")
            print(f"  {name:14s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}  bound {bound}{flag}")
    return out


def compare(a, b, bench):
    """Both sets' summaries, and the second median's move against each bound."""
    sa, sb = summarize(a, bench), summarize(b, bench)
    print("\nmedian drift, second set vs first (positive is worse):")
    worst = {}
    for w in sorted(sa):
        for name, ma in sa[w]["metrics"].items():
            mb = sb.get(w, {}).get("metrics", {}).get(name)
            if not mb:
                continue
            drift = (mb["median"] - ma["median"]) / ma["median"]
            steady = max(ma["spread"], mb["spread"]) <= ma["bound"]
            ok = drift <= ma["bound"] and steady
            worst[f"{w}/{name}"] = {"drift": drift, "spread_a": ma["spread"],
                                    "spread_b": mb["spread"], "bound": ma["bound"], "ok": ok}
            print(f"  {w:11s} {name:10s} drift {drift:+.3f}  spreads {ma['spread']:.3f} / "
                  f"{mb['spread']:.3f}  bound {ma['bound']}  {'ok' if ok else 'OUTSIDE BOUND'}")
    return {"a": sa, "b": sb, "drift": worst}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="etl_cycle,query_mix,delta_lake")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(BENCH, "out", "runs.jsonl"))
    ap.add_argument("--summarize", default=None, help="summarize an existing run file")
    ap.add_argument("--compare", nargs=2, default=None, metavar=("FIRST", "SECOND"),
                    help="compare two saved sets")
    ap.add_argument("--summary-json", default=None, help="also write the summary here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.compare:
        s = compare(*args.compare, bench)
        if args.summary_json:
            with open(args.summary_json, "w") as f:
                json.dump(s, f, indent=1, sort_keys=True)
                f.write("\n")
        return
    path = args.summarize or args.out
    if not args.summarize:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        for seed in seeds(args.seeds):
            for w in args.workloads.split(","):
                r = run_once(w, seed, bench["run_seconds"], args.trace)
                with open(path, "a") as f:
                    f.write(json.dumps(r) + "\n")
                print(f"{w} seed {seed}: exit {r['exit']} wall {r['wall_s']} s", flush=True)
    s = summarize(path, bench)
    if args.summary_json:
        with open(args.summary_json, "w") as f:
            json.dump(s, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
