#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at the tiny scale, untraced,
plus one traced run, checked against the metric names in BENCHMARK.json.

    python3 graftbench/smoke.py

Exits non-zero on the first failure. Takes about two minutes on 4 cores.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit("smoke: %s trace=%d exited %d\n%s" % (workload, trace, p.returncode, p.stderr[-4000:]))
    result = json.loads(p.stdout.strip().splitlines()[-1])
    want = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    missing = [m for m in want if m not in result["metrics"]]
    if not result["correct"] or result["failed"] or missing or result["attempted"] < 1:
        sys.exit("smoke: %s trace=%d bad result %s missing=%s" % (workload, trace, result, missing))
    zero = [m for m in want if not trace and not result["metrics"][m]["value"]]
    if zero:
        sys.exit("smoke: %s has zero end-to-end metrics %s" % (workload, zero))
    print("smoke: %s trace=%d ok (%d ops)" % (workload, trace, result["attempted"]))


if __name__ == "__main__":
    for w in [x["name"] for x in SPEC["workloads"]]:
        run(w, 0)
    run("explore", 1)
