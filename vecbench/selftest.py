#!/usr/bin/env python3
"""The benchmark's own test: every workload end to end at tiny scale.

    python3 vecbench/selftest.py

Runs all workloads (BENCHMARK.json's and the opt-in one) in one JVM, untraced
and traced, at tiny scale, and asserts that every run passed every output
check and printed every end-to-end / per-layer metric of BENCHMARK.json
with its unit. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    results = [json.loads(l) for l in out.stdout.splitlines()
               if l.startswith("{") and '"correct"' in l]
    return out.returncode, results


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    n_workloads = 3  # BENCHMARK.json's two plus the opt-in batch_d960
    problems = []
    for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
        rc, results = run(trace)
        if rc != 0:
            problems.append(f"trace {trace}: exit code {rc}")
        if len(results) != n_workloads:
            problems.append(f"trace {trace}: {len(results)} results, want {n_workloads}")
        for i, r in enumerate(results):
            where = f"trace {trace} result {i}"
            if r.get("correct") is not True or r.get("failed") != 0 or r.get("attempted", 0) < 1:
                problems.append(f"{where}: correct={r.get('correct')} failed={r.get('failed')}")
            for m in spec[key]:
                got = r["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{where}: missing {m['name']}")
                elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{where}: {m['name']} = {got}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
