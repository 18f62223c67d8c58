#!/usr/bin/env python3
"""Self-test of the benchmark harness at a tiny scale (sf 0.001).

For every workload it checks that a traced run completes with every
correctness gate green (the trace's own layer-sum gate included), and
that a run with one batch deliberately skipped is reported as failed:
exit code 1, `"correct": false` and at least one failure counted.

    python3 perfbench/selftest.py            # all three workloads
    python3 perfbench/selftest.py cycle_fold # one workload

Takes a few minutes; exits 0 only if every case behaves as expected.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cycle_fold", "replay_live", "cdc_backfill")


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "4", "--sf", "0.001", *extra]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return r.returncode, result, r.stderr


def main():
    workloads = sys.argv[1:] or WORKLOADS
    failures = []
    for w in workloads:
        code, res, err = run(w, "--trace", "1")
        ok = (code == 0 and res is not None and res["correct"] and res["failed"] == 0
              and res["attempted"] > 0)
        print(f"{w}: traced run {'ok' if ok else 'FAILED'} (exit {code}, {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}})")
        if not ok:
            failures.append(f"{w} traced run")
            print(err[-2000:], file=sys.stderr)

        code, res, err = run(w, "--trace", "0", "--fault", "skip-batch")
        caught = code == 1 and res is not None and not res["correct"] and res["failed"] >= 1
        print(f"{w}: skipped batch {'caught' if caught else 'NOT CAUGHT'} (exit {code}, {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}})")
        if not caught:
            failures.append(f"{w} injected fault")
            print(err[-2000:], file=sys.stderr)
    if failures:
        print("self-test FAILED: " + ", ".join(failures))
        sys.exit(1)
    print("self-test passed")


if __name__ == "__main__":
    main()
