#!/usr/bin/env python3
"""Record a trajectory point of the benchmark: repeated runs per workload.

    python3 perfbench/trajectory.py --seeds 1-10 --out perfbench/trajectory/head.json
    python3 perfbench/trajectory.py --seeds 1-5 --workloads cdc_trickle --out /tmp/t.json
    python3 perfbench/trajectory.py --seeds 1 --traced --out perfbench/trajectory/head_traced.json

For every workload and seed it runs `perfbench/run.py` (untraced) and
keeps each end-to-end metric, then reports per metric the median, the
first and third quartiles (Python's statistics.quantiles, n=4) and the
spread (q3 - q1) / median. With --traced it also makes one traced run per
workload and seed, and reports the per-layer metrics and the tracing
overhead: the traced run's end-to-end metrics minus the untraced medians
(taken from --baseline, a file this script wrote earlier).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cdc_backfill", "cdc_trickle", "query_suite"]


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, wall


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
                    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else 10)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--baseline", help="an untraced trajectory file, for the overhead")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    report = {"seconds": a.seconds, "nproc": os.cpu_count(), "workloads": {}}
    base = json.load(open(a.baseline))["workloads"] if a.baseline else {}
    for w in a.workloads.split(","):
        metrics, walls, fails, failed = {}, [], [], []
        traced = []
        for s in seeds(a.seeds):
            rc, r, wall = run(w, s, a.seconds, 1 if a.traced else 0)
            walls.append(round(wall, 1))
            if r is None or rc != 0:
                fails.append({"seed": s, "rc": rc, "failed": r and r["failed"]})
            if r is None:
                continue
            failed.append(r["failed"])
            for k, m in r["metrics"].items():
                metrics.setdefault(k, []).append(m["value"])
            if a.traced:
                tf = os.path.join(HERE, "out", f"trace-{w}-seed{s}.json")
                traced.append(json.load(open(tf))["end_to_end"])
            print(f"{w} seed {s}: rc={rc} wall={wall:.1f}s", file=sys.stderr)
        entry = {"run_wall_s": walls, "failed_runs": fails, "failed": failed,
                 "metrics": {k: summary(v) for k, v in metrics.items()}}
        if a.traced and traced:
            e2e = {k: statistics.median([t[k] for t in traced]) for k in traced[0]}
            entry["traced_end_to_end"] = e2e
            if w in base:
                entry["tracing_overhead"] = {
                    k: v - base[w]["metrics"][k]["median"]
                    for k, v in e2e.items() if k in base[w]["metrics"]}
        report["workloads"][w] = entry
        for k, sm in entry["metrics"].items():
            if not a.traced:
                print(f"{w:13s} {k:18s} median {sm['median']:12.3f} spread {sm['spread']:.4f}",
                      file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
