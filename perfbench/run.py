#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

Usage, from the repository root:
  python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 30 --trace 0

Builds the program and the harness first when needed (perfbench/build.py),
then runs the harness in one JVM at local[nproc]. The last line of the
output is one JSON object: correct, attempted, failed and the metrics that
BENCHMARK.json lists (end_to_end with --trace 0, per_layer with --trace 1).
Scratch files live in .bench_work and are removed at the end.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORK = ".bench_work"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# fixture_leaves is driver-bound planning work. Under the default tiered JIT
# its pass time keeps falling for 50 passes and more, so a window's median
# would measure how far C2 has got; with C1 only it is flat after three passes.
JIT_OPTS = {"fixture_leaves": ["-XX:TieredStopAtLevel=1"]}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
    except OSError:
        fail("BENCHMARK.json not found; run from the repository root")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %r" % args.workload)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    try:
        classes = build.ensure()
        jars = build.spark_jars()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail("build: %s" % e)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside WORK
    cmd = (["java", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
           + JIT_OPTS.get(args.workload, [])
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK])
    log_path = os.path.join(build.OUT, "last-run.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(WORK, ignore_errors=True)
            fail("timed out after %d s; JVM log in %s" % (JVM_TIMEOUT_S, log_path))
    shutil.rmtree(WORK, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("no result (exit code %d); JVM log in %s" % (proc.returncode, log_path))
    if proc.returncode != 0:
        fail("JVM exit code %d; JVM log in %s" % (proc.returncode, log_path))
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail("metrics and units %s differ from BENCHMARK.json %s"
             % (sorted(got.items()), sorted(want.items())))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
