#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting: with an op planted to
throw in every pass, the benchmark must still count every op, report
the failures, and exit non-zero.

    python3 perfbench/selftest.py      (from the repository root)
"""
import json
import os
import subprocess
import sys

cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
       "--workload", "octree", "--seed", "1", "--seconds", "1", "--trace", "0",
       "--plant-failure"]
p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
result = json.loads(p.stdout.strip().splitlines()[-1])
problems = []
if p.returncode == 0:
    problems.append("exit code 0 with a planted failing op")
if result["failed"] < 1 or result["correct"]:
    problems.append(f"planted failure not counted: {result}")
if result["attempted"] <= result["failed"]:
    problems.append(f"the other ops were not counted as attempted: {result}")
print("selftest: " + ("FAILED: " + "; ".join(problems) if problems else
                      f"ok (exit {p.returncode}, {result['failed']} of "
                      f"{result['attempted']} ops failed)"))
sys.exit(1 if problems else 0)
