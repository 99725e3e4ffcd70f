#!/usr/bin/env python3
"""Seed-to-seed spread of the end-to-end metrics, and tracing overhead.

    python3 perfbench/spread.py --workload adhoc_sql [--runs 10] [--seed0 1]
    python3 perfbench/spread.py --workload adhoc_sql --overhead [--runs 3]

The first form runs the workload untraced with seeds seed0 .. seed0+runs-1
and prints, for every end-to-end metric of the run record, the median and
the interquartile range as a share of the median (statistics.quantiles,
n=4), with the bound of those BENCHMARK.json gates. The second form also
runs each seed traced and prints, per end-to-end metric, the traced median
over the untraced median minus one. Results go to
perfbench/out/spread-*.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        sys.exit(f"run failed: {workload} seed {seed} trace {trace}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    tag = f"{workload}-seed{seed}-trace{trace}"
    with open(os.path.join(BENCH, "out", tag + ".json")) as f:
        return last, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seeds = range(a.seed0, a.seed0 + a.runs)
    untraced, traced, report, units = {}, {}, {}, {}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for s in seeds:
        last, rec = run(a.workload, s, spec["run_seconds"], 0)
        if not last["correct"]:
            sys.exit(f"seed {s}: incorrect run: {rec['failures']}")
        for name, m in rec["end_to_end"].items():
            units[name] = m["unit"]
            untraced.setdefault(name, []).append(m["value"])
        if a.overhead:
            _, trec = run(a.workload, s, spec["run_seconds"], 1)
            for name, m in trec["end_to_end"].items():
                traced.setdefault(name, []).append(m["value"])
        print(f"seed {s}: " + ", ".join(
            f"{m['name']}={untraced[m['name']][-1]:.4g}"
            for m in spec["end_to_end"]), flush=True)
    for name, v in untraced.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        row = {"median": med, "spread": (q[2] - q[0]) / med if med else 0.0,
               "bound": bounds.get(name), "values": v}
        if a.overhead and med:
            row["traced_median"] = statistics.median(traced[name])
            row["tracing_overhead"] = row["traced_median"] / med - 1
        report[name] = row
        extra = (f"  tracing overhead {row['tracing_overhead']:+.3f}"
                 if "tracing_overhead" in row else "")
        gate = f"(bound {bounds[name]})" if name in bounds else "(not gated)"
        print(f"{name:14s} median {med:10.4g} {units[name]:5s} spread "
              f"{row['spread']:.3f} {gate}{extra}")
    name = f"spread-{a.workload}{'-overhead' if a.overhead else ''}.json"
    os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
    with open(os.path.join(BENCH, "out", name), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
