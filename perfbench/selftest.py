#!/usr/bin/env python3
"""Self-test of the benchmark on the sf0.001 fixtures, a few operations per
workload:

  1. every metric named in BENCHMARK.json prints with its unit and a
     finite value (untraced and traced runs);
  2. the same seed run twice gives the same operation sequence and the same
     exact counts (scheduler.jobs, catalyst.plan_nodes,
     lakeio.bytes_written, write_amp);
  3. a deliberately wrong expected digest makes failed_ratio > 0.

    python3 perfbench/selftest.py [--sf DIR]

Run it from the root of a checkout; it exits 1 on the first failure.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OPS = {"adhoc_sql": 6, "lake_maintain": 4, "curate_batch": 3}
EXACT = ["scheduler.jobs", "catalyst.plan_nodes", "lakeio.bytes_written"]


def run(workload, seed, trace, sf, expected=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "30",
           "--trace", str(trace), "--ops", str(OPS[workload]), "--sf", sf]
    if expected:
        cmd += ["--expected", expected]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        die(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    tag = f"{workload}-seed{seed}-trace{trace}"
    with open(os.path.join(BENCH, "out", tag + ".json")) as f:
        return last, json.load(f)


def die(msg):
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("PERFBENCH_SF_DIR_SMALL")
                    or os.path.expanduser("~/testdata/sf0.001"))
    sf = os.path.abspath(ap.parse_args().sf)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in OPS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            runs = [run(w, 7, trace, sf) for _ in range(2)]
            for last, rec in runs:
                if not last["correct"] or last["failed"]:
                    die(f"{w} trace {trace}: failures {rec['failures']}")
                for m in spec[section]:
                    got = last["metrics"].get(m["name"])
                    if got is None or got["unit"] != m["unit"] or \
                            not math.isfinite(got["value"]):
                        die(f"{w}: metric {m['name']} printed as {got}")
            (_, a), (_, b) = runs
            seq = lambda r: [(o[1], o[2]) for o in r["ops"]]
            if seq(a) != seq(b):
                die(f"{w} trace {trace}: operation sequences differ")
            if trace:
                for name in EXACT:
                    if a["per_layer"][name] != b["per_layer"][name]:
                        die(f"{w}: {name} differs between identical runs")
            elif w == "lake_maintain":
                if a["end_to_end"]["write_amp"] != b["end_to_end"]["write_amp"]:
                    die("lake_maintain: write_amp differs between runs")
            print(f"ok  {w} trace {trace}: {len(a['ops'])} operations, "
                  "same sequence and counts twice")
    # a wrong expected digest must surface as a failure, not a success
    exp = os.path.join(BENCH, "expected", os.path.basename(sf) + ".json")
    with open(exp) as f:
        digests = json.load(f)
    _, rec = run("adhoc_sql", 7, 0, sf)
    first = rec["ops"][0][2]
    digests[first] = dict(digests[first], digest="0" * 16)
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=BENCH,
                                     delete=False) as f:
        json.dump(digests, f)
    try:
        last, rec = run("adhoc_sql", 7, 0, sf, expected=f.name)
    finally:
        os.unlink(f.name)
    ratio = rec["end_to_end"]["failed_ratio"]["value"]
    if last["correct"] or ratio <= 0:
        die(f"a wrong digest for {first} was not reported (failed_ratio "
            f"{ratio})")
    print(f"ok  wrong digest for {first}: failed_ratio {ratio:.3f}")
    print("selftest passed")


if __name__ == "__main__":
    main()
