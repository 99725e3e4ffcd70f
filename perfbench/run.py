#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the library and
the harness from source with sbt (offline, from the local ivy/coursier
caches); later runs reuse the build until a source file changes. The
workload runs in one JVM with Spark local[n], n = the number of cores, and
writes nothing outside `perfbench/.work` (removed afterwards) and
`perfbench/out` (the run records).

It prints every metric by name with its unit, a `meta` line, and as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With `--trace 0` the metrics are the `end_to_end` metrics named in
BENCHMARK.json, with `--trace 1` the `per_layer` ones.

Options beyond the four above:
  --ops N          run exactly N operations (cycles for lake_maintain)
                   instead of for --seconds
  --sf DIR         the fixture tables (default: $PERFBENCH_SF_DIR, else
                   ~/testdata/sf0.1)
  --expected FILE  expected result digests (default: expected/<sf name>.json)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("adhoc_sql", "lake_maintain", "curate_batch")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    or interrupt and waits until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}/src: run from a full checkout")
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "perfbench.classpath")
    stamp_file = os.path.join(target, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    t0 = time.time()
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = out.strip().splitlines()
    if rc != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1], stamp


def git_revision():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int)
    ap.add_argument("--sf")
    ap.add_argument("--expected")
    a = ap.parse_args()

    sf = a.sf or os.environ.get("PERFBENCH_SF_DIR") or \
        os.path.expanduser("~/testdata/sf0.1")
    sf = os.path.abspath(sf)
    if not os.path.isfile(os.path.join(sf, "orders.parquet")):
        fail(f"fixture tables not found at {sf} (set --sf or PERFBENCH_SF_DIR)")
    expected = a.expected or os.path.join(
        BENCH, "expected", os.path.basename(sf) + ".json")
    if not os.path.isfile(expected):
        fail(f"no expected digests at {expected}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath, stamp = build()
    cores = os.cpu_count() or 1
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
        "-cp", classpath, "perfbench.Main", "run",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--sf", sf, "--work", work, "--out", result,
        "--expected", expected, "--cores", str(cores)]
    if a.ops is not None:
        cmd += ["--ops", str(a.ops)]
    # the library's scratch and warehouse defaults follow these
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=f"{work}/scratch",
               GRAFT_WAREHOUSE=f"{work}/warehouse",
               SPARK_LOCAL_DIRS=f"{work}/spark-local")
    try:
        t0 = time.time()
        rc, _ = run_group(cmd, RUN_TIMEOUT_S, env=env,
                          stdin=subprocess.DEVNULL, stdout=sys.stderr)
        print(f"perfbench: workload JVM ran {time.time() - t0:.1f} s",
              file=sys.stderr)
        if rc != 0 or not os.path.isfile(result):
            fail(f"workload JVM exited with {rc} and no result")
        with open(result) as f:
            rec = json.load(f)
        spans = result[:-len(".json")] + ".spans.json"
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(out_dir, tag + ".spans.json"))
    except subprocess.TimeoutExpired:
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["meta"].update(seed=a.seed, sf_name=os.path.basename(sf),
                       git_revision=git_revision(), source_sha256=stamp,
                       heap=HEAP)
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    for section in ("end_to_end", "per_layer"):
        for name, m in rec[section].items():
            print(f"{section} {name} = {m['value']!r} {m['unit']}")
    for kind, n in rec["samples"].items():
        print(f"samples {kind} = {n}")
    print("meta " + json.dumps(rec["meta"], sort_keys=True))
    if rec["failures"]:
        print("failures " + json.dumps(rec["failures"]))

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        got = rec[section].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} missing from the run record")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": bool(rec["correct"]),
                      "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
