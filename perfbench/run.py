#!/usr/bin/env python3
"""Runs graft's benchmark from the root of a checkout.

    python3 perfbench/run.py --workload drain|stream|fleet|operators|all \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (see
build.sh; classes are cached under $CARGO_TARGET_DIR or .bench_build and
rebuilt when any source changes), then runs one JVM per workload. The
last line of stdout is the result JSON:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
for --trace 0 and the per-layer metrics for --trace 1. The line before it
is the full report (stamp, checks, external CPU load, workload detail).
With --trace 1 the spans go to <build>/out/spans-<workload>-<seed>.jsonl.
Exits nonzero when a check fails or the program cannot be built.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["drain", "stream", "fleet", "operators"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the ones pyspark ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            fail("Spark not found: set SPARK_HOME or install pyspark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars under {jars}")
    return jars


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir):
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no program sources under src/main/scala: run from the root of a graft checkout")
    h = hashlib.sha256()
    for p in srcs + [os.path.join(HERE, "build.sh")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(os.path.join(build_dir, "classes")):
        return
    if shutil.which("java") is None:
        fail("java not found")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), build_dir, spark_jars()], cwd=root,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_one(root, build_dir, workload, a):
    jars = spark_jars()
    tmp = os.path.join(build_dir, "tmp")
    out = os.path.join(build_dir, "out")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-Xss4m",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.path.join(build_dir, "classes") + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main",
        "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--commit", commit(root),
    ]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{workload}: timed out after {RUN_TIMEOUT_S} s")
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail(f"{workload}: no result (exit {proc.returncode})")
    shutil.rmtree(os.path.join(out, f"work-{workload}-{a.seed}"), ignore_errors=True)
    return json.loads(lines[-2]), json.loads(lines[-1]), proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    build(root, build_dir)

    results = []
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        report, result, code = run_one(root, build_dir, w, a)
        print(json.dumps(report), flush=True)
        results.append((w, result, code))
    if len(results) == 1:
        final = results[0][1]
    else:
        final = {
            "correct": all(r["correct"] for _, r, _ in results),
            "attempted": sum(r["attempted"] for _, r, _ in results),
            "failed": sum(r["failed"] for _, r, _ in results),
            "metrics": {f"{w}.{k}": v for w, r, _ in results for k, v in r["metrics"].items()},
        }
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] and all(c == 0 for _, _, c in results) else 1)


if __name__ == "__main__":
    main()
