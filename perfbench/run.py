#!/usr/bin/env python3
"""Connector benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the connector from `src/main/scala`
together with the benchmark's own Scala sources (see build.py), then runs one
workload in one JVM and relays its output. The last stdout line is the result
JSON: {"correct", "attempted", "failed", "metrics"}. Any failure to build or
run exits non-zero without printing a result.

Extra flag, used by selftest.py only: `--wrong-expectation` perturbs every
expected value, so every checked operation must be reported as failed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("federated_olap", "ingest_fresh", "wire_scan")
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--wrong-expectation", action="store_true")
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")

    root = os.getcwd()
    try:
        classpath = build.ensure_built(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out_dir = build.build_dir(root)
    work = os.path.join(out_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *build.jvm_options(work), "-cp", classpath,
           "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--cpus", str(len(os.sched_getaffinity(0))),
           "--trace-out", os.path.join(out_dir, "traces"),
           "--wrong-expectation", "1" if a.wrong_expectation else "0"]
    # own process group: a timeout kills the JVM and anything it forked
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=root,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        print(f"perfbench: JVM exited with {proc.returncode} and no result",
              file=sys.stderr)
        return 4
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
