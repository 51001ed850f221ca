#!/usr/bin/env python3
"""Alternating parent/change pairs of the vector-catalog benchmark.

    python3 scripts/vecbench_ab.py --parent HEAD~1 --workload serve_rw_d384 -n 10

Extracts the committed files of the parent rev and of the change (default
HEAD) with `git archive` into directories under --workdir (default /tmp),
then runs N pairs of
`vecbench/run.py`, one JVM at a time, the parent first in pairs 0, 2, ...
and the change first in pairs 1, 3, ..., so a drift of the host over time
hits both sides alike. Each run's seed is --seed0 + pair index; both sides of a
pair share it. With --trace 1 it compares the per-layer metrics too.

For every metric the report prints each side's median and quartiles, how
many pairs the change won (ties count for neither side) and a verdict: a
gain needs at least nine tenths of the pairs won and a median difference
larger than the parent's own quartile spread; a loss is the same rule with
the sides swapped. Raw results go to <workdir>/vecbench_ab_<stamp>.jsonl.
The extracted trees are removed at the end unless --keep is given.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def better_direction():
    """metric -> 'lower'/'higher', from the checkout's BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def run_once(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "vecbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    p = subprocess.run(cmd, cwd=tree, text=True, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip().startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return {"error": f"rc={p.returncode}"}
    return json.loads(lines[-1])


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(pairs, better):
    """pairs: [(parent, change)]; returns (wins, losses, text)."""
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    losses = sum(1 for a, b in pairs if sign * (b - a) < 0)
    pq1, pmed, pq3 = quartiles([a for a, _ in pairs])
    cq1, cmed, cq3 = quartiles([b for _, b in pairs])
    n = len(pairs)
    if wins * 10 >= 9 * n and abs(cmed - pmed) > pq3 - pq1:
        return wins, losses, "gain"
    if losses * 10 >= 9 * n and abs(cmed - pmed) > cq3 - cq1:
        return wins, losses, "loss"
    return wins, losses, "-"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent git rev")
    ap.add_argument("--change", default="HEAD", help="changed git rev (HEAD)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("-n", type=int, default=10, help="pairs to run (10)")
    ap.add_argument("--seed0", type=int, default=1000,
                    help="seed of the first pair; pair i uses seed0 + i")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--workdir", default="/tmp")
    ap.add_argument("--keep", action="store_true", help="keep the extracted trees")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = a.seconds or json.load(fh).get("run_seconds", 10)
    better = better_direction()
    stamp = time.strftime("%Y%m%d_%H%M%S")
    trees = {}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        sha = git("rev-parse", "--verify", rev + "^{commit}")
        path = os.path.join(a.workdir, f"vecbench_ab_{stamp}_{side}")
        os.makedirs(path)
        subprocess.run(f"git archive {sha} | tar -x -C {path}", shell=True,
                       cwd=ROOT, check=True)
        trees[side] = path
        print(f"[ab] {side}: {rev} = {sha[:10]} at {path}", file=sys.stderr)

    log_path = os.path.join(a.workdir, f"vecbench_ab_{stamp}.jsonl")
    results = {"parent": [], "change": []}
    try:
        with open(log_path, "w") as log:
            for i in range(a.n):
                seed = a.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    t0 = time.time()
                    r = run_once(trees[side], a.workload, seed, seconds, a.trace)
                    results[side].append(r)
                    log.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                          "result": r}) + "\n")
                    log.flush()
                    print(f"[ab] pair {i} seed {seed} {side}: "
                          f"{'ok' if 'metrics' in r else r.get('error')} "
                          f"correct={r.get('correct')} ({time.time() - t0:.0f} s)",
                          file=sys.stderr)
    finally:
        if not a.keep:
            for path in trees.values():
                shutil.rmtree(path, ignore_errors=True)

    ok = [(p, c) for p, c in zip(results["parent"], results["change"])
          if "metrics" in p and "metrics" in c]
    print(f"workload {a.workload}: {len(ok)} of {a.n} pairs complete "
          f"(seeds {a.seed0}..{a.seed0 + a.n - 1}, {seconds:g} s runs); "
          f"raw results in {log_path}")
    for side in ("parent", "change"):
        bad = [r for r in results[side]
               if "metrics" not in r or not r.get("correct", False)
               or r.get("failed", 0)]
        if bad:
            print(f"  {side}: {len(bad)} runs errored, incorrect or with failed operations")
    if not ok:
        return 1
    names = sorted(set(ok[0][0]["metrics"]) & set(ok[0][1]["metrics"]))
    print(f"{'metric':40s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'won':>6s} {'lost':>5s}  verdict")
    for name in names:
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in ok]
        pq = quartiles([x for x, _ in pairs])
        cq = quartiles([y for _, y in pairs])
        wins, losses, v = verdict(pairs, better.get(name, "lower"))
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:40s} {fmt(pq):>28s} {fmt(cq):>28s} "
              f"{wins:>3d}/{len(pairs):<2d} {losses:>5d}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
