#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 graftbench/run.py --workload explore --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark first (see build.py), then runs
graftbench.Main in one JVM with local[<cores>] Spark. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer table. A `DIAG` line before it carries the input hash, the
host-drift anchors and the workload-specific figures.

Extra options: --size tiny (the smoke-test scale), --record-goldens
(store this seed's per-op output hashes in goldens.json).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # a run writes only under graftbench/.work
import build  # noqa: E402

TIMEOUT_S = 170
GOLDENS = os.path.join(HERE, "goldens.json")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["explore", "ingest", "analyze"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--record-goldens", action="store_true")
    return p.parse_args()


def record(lines):
    goldens = json.load(open(GOLDENS)) if os.path.exists(GOLDENS) else {}
    for line in lines:
        if line.startswith("GOLDEN "):
            goldens.update(json.loads(line[len("GOLDEN "):]))
    with open(GOLDENS, "w") as fh:
        json.dump(dict(sorted(goldens.items())), fh, indent=1)
        fh.write("\n")


def main():
    a = parse()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print("graftbench: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--size", a.size, "--work", work, "--goldens", GOLDENS]
           + (["--record"] if a.record_goldens else []))
    log_path = os.path.join(work, "stderr.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print("graftbench: run exceeded %d s" % TIMEOUT_S, file=sys.stderr)
    lines = [x for x in out.splitlines() if x.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = proc.returncode == 0 and isinstance(result, dict) and "metrics" in result
    if not ok:
        with open(log_path) as fh:
            tail = fh.read()[-8000:]
        print(tail, file=sys.stderr)
        print("graftbench: %s failed (exit %s)" % (a.workload, proc.returncode), file=sys.stderr)
    else:
        with open(log_path) as fh:
            for line in fh:
                if line.startswith("[graftbench]"):
                    sys.stderr.write(line)
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        return 1
    if a.record_goldens:
        record(lines)
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
