#!/usr/bin/env python3
"""Self-test of the benchmark's checks. Run from the repository root:

    python3 perfbench/selftest.py [workload ...]

1. With `--wrong-expectation` every expected value is perturbed, so every
   operation of every workload must be reported as failed: the result line
   must say correct=false and failed == attempted.
2. In a directory that holds only BENCHMARK.json and perfbench/, the
   benchmark must exit non-zero without printing a result line.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("federated_olap", "ingest_fresh", "wire_scan")


def run(cwd, workload, extra=()):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    failures = []
    for wl in sys.argv[1:] or WORKLOADS:
        p = run(ROOT, wl, ["--wrong-expectation"])
        lines = p.stdout.strip().splitlines()
        r = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        ok = r is not None and r["correct"] is False and r["attempted"] >= 1 \
            and r["failed"] == r["attempted"]
        print(f"{wl}: wrong expectation -> "
              f"{'reported' if ok else 'NOT reported'} "
              f"({r and {k: r[k] for k in ('correct', 'attempted', 'failed')}})")
        if not ok:
            failures.append(wl)

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, WORKLOADS[0])
    shutil.rmtree(bare, ignore_errors=True)
    printed = '"correct"' in p.stdout
    bare_ok = p.returncode != 0 and not printed
    print(f"bare directory: exit {p.returncode}, "
          f"{'PRINTED A RESULT' if printed else 'no result'}")
    if not bare_ok:
        failures.append("bare-directory")

    print("selftest", "FAILED: " + ", ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
