#!/usr/bin/env python3
"""Self-test of the benchmark: run from the repo root.

    python3 perfbench/selftest.py [--seconds 1] [--workloads drain,stream,fleet,operators]

Runs each workload briefly, untraced and traced, and asserts that
- the last stdout line has exactly the keys correct/attempted/failed/metrics,
  is correct, and names every metric BENCHMARK.json lists for that mode,
  each with its unit and a finite value;
- the report shows that the workload's checks ran, and on drain that the
  harness spans cover at least 90% of the measured wall time;
- a traced run wrote its spans;
- in a directory holding only BENCHMARK.json and perfbench/, the command
  exits nonzero without printing a result.
Prints the tracing overhead (traced ÷ untraced − 1) per end-to-end metric.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHECKS = {
    "drain": ["drain.exactly_once_per_attempt", "drain.dead", "drain.ready_empty", "drain.pass_counts"],
    "stream": ["stream.exactly_once", "stream.scheduled_not_early", "stream.batch_callback_once",
               "stream.drained", "stream.calls_ok"],
    "fleet": ["fleet.exactly_once_per_attempt", "fleet.per_call_exactly_once", "fleet.dead",
              "fleet.drained", "fleet.calls_ok"],
    "operators": ["operators.oracle_match", "operators.row_counts"],
}


def run(cwd, workload, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, lines


def check_run(bench, workload, seconds, trace):
    code, lines = run(ROOT, workload, seconds, trace)
    assert code == 0 and len(lines) >= 2, f"{workload} trace={trace}: exit {code}, {lines[-1:]}"
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], sorted(result)
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1, result
    want = bench["per_layer" if trace else "end_to_end"]
    for m in want:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{workload}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (m["name"], got)
    for c in CHECKS[workload]:
        assert report["checks"].get(c, {}).get("attempted", 0) >= 1, f"{workload}: check {c} did not run"
    if trace:
        assert report["spans_written"] > 0, f"{workload}: no spans written"
        if workload == "drain":
            cov = report["detail"]["trace.coverage"]
            assert cov >= 0.9, f"drain: layer spans cover {cov:.2f} of the wall time"
    print(f"ok  {workload} trace={trace}: {len(want)} metrics, "
          f"{len(report['checks'])} checks, {result['attempted']} attempted", flush=True)
    return report


def check_bare_dir():
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(d, "drain", 1, 0)
        assert code != 0 and not any(l.startswith("{") for l in lines), (code, lines)
    print("ok  bare directory: exits", code, "without a result", flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--workloads", default="drain,stream,fleet,operators")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    check_bare_dir()
    for w in a.workloads.split(","):
        plain = check_run(bench, w, a.seconds, 0)["end_to_end"]
        traced = check_run(bench, w, a.seconds, 1)["end_to_end"]
        print(f"    tracing overhead on {w} (traced / untraced - 1): " + ", ".join(
            f"{k} {traced[k] / plain[k] - 1:+.1%}" for k in sorted(plain) if plain[k]), flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
