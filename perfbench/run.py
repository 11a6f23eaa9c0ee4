#!/usr/bin/env python3
"""Run one workload of the CDC benchmark and print its result line.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library's main
sources together with the benchmark program (sbt, this directory's
build.sbt) and records the classpath; later runs reuse the build until a
source file changes. Every file a run writes stays under perfbench/work
(deleted at the end of the run) and perfbench/out (traces).

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The exit code
is non-zero when an output check fails or the run cannot complete.
`--workload all` runs the three workloads in turn and prints every
metric by name and unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cdc_backfill", "cdc_trickle", "query_suite"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
# JVM heap of every run: a constant, so runs compare.
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the library's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Build once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources under src/main/scala/graft: run from a checkout")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                with open(cp_file) as cp:
                    return cp.read().strip()
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           f"-Djna.tmpdir={tmp}", "writeClasspath"]
    # every JVM sbt starts keeps its performance-data file out of /tmp
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    try:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {rc})", 3)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    with open(cp_file) as cp:
        return cp.read().strip()


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; returns (exit code, result dict or None)."""
    work = os.path.join(HERE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work,
              "--out", os.path.join(HERE, "out"),
              "--rows", os.path.join(HERE, "expected_rows.tsv")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: {workload} did not finish in {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 4, None
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
            lines = lines[:-1]
        except ValueError:
            result = None
    for line in lines:
        print(line)
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    if a.workload != "all":
        rc, result = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        if result is None:
            sys.exit(rc or 5)
        print(json.dumps(result))
        sys.exit(rc)
    worst, results = 0, {}
    for w in WORKLOADS:
        rc, result = run_one(cp, w, a.seed, a.seconds, a.trace)
        worst = worst or rc or (5 if result is None else 0)
        results[w] = result
    for w, r in results.items():
        if r is None:
            print(f"{w}: no result")
            continue
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              f"fail_rate={r['failed'] / r['attempted']:.4f}")
        for name, m in r["metrics"].items():
            print(f"  {name:36s} {m['value']:16.4f} {m['unit']}")
    print(json.dumps(results))
    sys.exit(worst)


if __name__ == "__main__":
    main()
