#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload {ingest,scan,dml,all} --seed N \
        --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest

`--workload all` runs ingest, scan and dml one after another, each in its
own JVM, and prints each report.

Builds graft and the harness from source (perfbench/build.py), then runs one
JVM on Spark local[k], k = min(4, cores available), with one client
thread. The JVM prints a human-readable report and, as its last stdout
line, the JSON result. Scratch data lives under .bench_build/work and is
removed when the run ends; run records stay in .bench_build/runs.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "scan", "dml")
RUN_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    try:
        out = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    if a.selftest:
        return build.run_selftest(out, log=sys.stdout)
    if a.workload == "all":
        return max(run(out, w, a) for w in WORKLOADS)
    return run(out, a.workload, a)


def run(out, workload, a):
    work = os.path.join(build.BUILD, "work", f"{workload}-{a.seed}-{a.trace}-{os.getpid()}")
    cmd = build.java_cmd(out, work, "perfbench.Main", [
        "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--runs", os.path.join(build.BUILD, "runs")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, env=env, cwd=build.ROOT)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
