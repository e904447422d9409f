#!/usr/bin/env python3
"""Checks the benchmark harness itself on smoke-size inputs.

    python3 perfbench/smoke_test.py

Runs every workload (those in BENCHMARK.json and the by-hand ones) with
--smoke, untraced and traced, and fails unless each run passes its
correctness checks and reports exactly the metrics BENCHMARK.json names.
Takes a few minutes: each run starts its own Spark session.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for trace in (0, 1):
        want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
             "--smoke", "--seed", "7", "--seconds", "3", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            failures.append("trace %d: exit %d\n%s" % (trace, p.returncode, p.stderr[-2000:]))
            continue
        lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
        details = [l for l in lines if "workload" in l]
        results = [l for l in lines if "correct" in l]
        if len(results) != 3 or len(details) != 3:
            failures.append("trace %d: expected 3 results, got %d" % (trace, len(results)))
        for d, r in zip(details, results):
            name = "%s trace=%d" % (d["workload"], trace)
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                failures.append("%s: not correct: %s" % (name, d["failures"]))
            if set(r["metrics"]) != want:
                failures.append("%s: metrics %s" % (name, sorted(set(r["metrics"]) ^ want)))
            if d["seed"] != 7:
                failures.append("%s: seed not recorded" % name)
        print("trace %d: %d workloads checked" % (trace, len(results)))
    if failures:
        print("\n".join(failures))
        sys.exit(1)
    print("ok")


if __name__ == "__main__":
    main()
