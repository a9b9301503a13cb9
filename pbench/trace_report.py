#!/usr/bin/env python3
"""Traced run: per-layer self times and counts for each workload, plus the
tracing overhead (traced minus untraced end-to-end numbers, same seed).

    python3 pbench/trace_report.py [--seed 1] [--seconds 10] [workload ...]

Writes .bench_build/pbench/trace-<workload>.json per workload and prints a
table per workload to stdout.
"""

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def bench(workload, seed, seconds, trace):
    res = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=run.benchmark_spec()["run_seconds"])
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    workloads = args.workloads or [w["name"] for w in run.benchmark_spec()["workloads"]]
    for w in workloads:
        plain = bench(w, args.seed, args.seconds, 0)
        bench(w, args.seed, args.seconds, 1)
        trace = json.loads((run.OUT / ("trace-%s.json" % w)).read_text())
        print("== %s (seed %d, %d s)" % (w, args.seed, args.seconds))
        print("%-36s %8s %12s %12s" % ("span", "count", "total ms", "self ms"))
        for s in trace["spans"]:
            print("%-36s %8d %12.1f %12.1f" % (s["name"], s["count"], s["total_ms"], s["self_ms"]))
        print("%-36s %12s" % ("per-layer metric", "value"))
        for name, v in sorted(trace["layers"].items()):
            if v is not None:
                print("%-36s %12.4f" % (name, v))
        print("%-20s %14s %14s %10s" % ("end-to-end", "untraced", "traced", "overhead"))
        for name, m in plain["metrics"].items():
            a, b = m["value"], trace["end_to_end"][name]
            print("%-20s %14.3f %14.3f %9.1f%%" % (name, a, b, 100.0 * (b - a) / a if a else 0.0))
        print()


if __name__ == "__main__":
    main()
