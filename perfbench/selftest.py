#!/usr/bin/env python3
"""Shows that each workload's correctness check can fail: every workload
runs once with one output damaged after the timed region (run.py
--corrupt), and its result must read "correct": false.

    python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def main():
    names = sys.argv[1:] or sorted(WORKLOADS)
    bad = []
    for w in names:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt"],
                           capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
        report = [ln for ln in r.stderr.splitlines()
                  if ln.startswith(("check:", "self-test:"))]
        caught = result is not None and result["correct"] is False
        print(f"{w}: {'caught' if caught else 'NOT caught'}")
        for ln in report:
            print("   ", ln)
        if not caught:
            bad.append(w)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
