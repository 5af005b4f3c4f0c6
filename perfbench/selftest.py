#!/usr/bin/env python3
"""Self-test of the benchmark's checks, on small inputs (about two minutes).

For every workload: a clean run must be correct with no failed
operation, and a run with --perturb (one output row dropped after the
timed phase) must count exactly one failed operation. One traced run
must report every per-layer metric.

Usage: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads  # noqa: E402


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
                        "--seconds", "1", "--small"] + list(args),
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"selftest: run.py {' '.join(args)} exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    problems = []
    for w in sorted(workloads.ALL):
        clean = run("--workload", w, "--trace", "0")
        if not clean["correct"] or clean["failed"] != 0:
            problems.append(f"{w}: clean run {clean}")
        bad = run("--workload", w, "--trace", "0", "--perturb")
        if bad["failed"] != 1 or bad["correct"]:
            problems.append(f"{w}: perturbed run counted {bad['failed']} failed, "
                            f"correct={bad['correct']}")
        print(f"{w}: clean {clean['attempted']}/{clean['failed']}, "
              f"perturbed {bad['attempted']}/{bad['failed']}", flush=True)
    traced = run("--workload", "cep_events", "--trace", "1")
    missing = {s["name"] for s in workloads.PER_LAYER} - set(traced["metrics"])
    if missing or not traced["correct"]:
        problems.append(f"traced run: missing {sorted(missing)}, correct={traced['correct']}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
