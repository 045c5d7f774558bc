#!/usr/bin/env python3
"""Steadiness report: runs each workload with several seeds through
run.py and prints, for every end-to-end metric, the median, the quartiles
and the spread (distance between the quartiles as a share of the median),
with the bound that spread supports. With --traced, one traced run per
workload also gives the tracing overhead on `pass_p50_s`.

    python3 perfbench/steady.py --runs 10 --seconds 20 --traced

Bounds in BENCHMARK.json were set from this report: at least three times
the widest spread seen, rounded up to 0.05, at most 0.25; `setup_s` gets
the largest bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       capture_output=True, text=True)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed with exit code {p.returncode}")
    return json.loads(lines[-1]), wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=["etl_daily", "sql_core"])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    summary = {}
    for w in a.workloads:
        values, walls = {}, []
        for i in range(a.runs):
            rec, wall = run(w, a.seed0 + i, a.seconds, 0)
            walls.append(wall)
            for name, m in rec["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {a.seed0 + i}: {wall:.1f} s wall", file=sys.stderr)
        print(f"\n{w}: {a.runs} runs, wall median {statistics.median(walls):.1f} s, "
              f"total {sum(walls):.0f} s")
        print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
        summary[w] = {"walls": walls, "metrics": {}}
        for name in sorted(values):
            q1, med, q3, sp = spread(values[name])
            bound = min(0.25, max(0.05, -(-3 * sp // 0.05) * 0.05))
            print(f"{name:<16}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}{bound:>7.2f}")
            summary[w]["metrics"][name] = {"values": values[name], "median": med,
                                           "q1": q1, "q3": q3, "spread": sp}
        if a.traced:
            rec, wall = run(w, a.seed0, a.seconds, 1)
            traced = rec["metrics"]["trace.pass_p50_s"]["value"]
            base = statistics.median(values["pass_p50_s"])
            print(f"tracing overhead on pass_p50_s: {traced:.3f} s traced vs "
                  f"{base:.3f} s untraced median = {100 * (traced / base - 1):+.1f}%")
            summary[w]["trace_overhead"] = traced / base - 1
    out = os.path.join(HERE, ".records", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\nsummary written to {os.path.relpath(out)}")


if __name__ == "__main__":
    main()
