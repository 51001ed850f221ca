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
the sides swapped. Directions come from BENCHMARK.json; a per-table metric
`table.<t>.<m>` takes the one declared for `table.ivf.<m>`, and a metric
with no declared direction prints `?` in place of a verdict. Each end-to-end
metric also gets the bound check of its BENCHMARK.json `bound` (a fraction
of the median): `worse>bound` when the change's median is worse than the
parent's by more than the bound, `unresolved` when either side's quartile
spread is wider than the bound of its own median (unless every change run
beats every parent run), `within` otherwise. Each run also
records the host's 1-minute load average (/proc/loadavg) just before and
just after it and its wall time; the report lists them per pair and flags
a pair whose two sides' mean load differs by more than 1.0, since such a
pair compares two host speeds as much as two trees. The report also lists
how many operations each run attempted (the result line's `attempted`)
with each side's median and quartiles, and flags a pair whose two sides
differ by more than 10 %: a fixed-length run that completes more cycles
also runs more appends and compactions, which moves bytes_per_user_byte
and the write and tail latencies on its own. Raw results go to
<workdir>/vecbench_ab_<stamp>.jsonl. The extracted trees are removed at the
end unless --keep is given.
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


def end_to_end_bounds():
    """end-to-end metric -> its relative bound, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["bound"] for m in bench.get("end_to_end", []) if "bound" in m}


def direction_of(name, better):
    """'lower'/'higher' for a metric, or None when none is declared.

    A per-table metric `table.<t>.<m>` takes the direction declared for
    `table.ivf.<m>`: every table reports the same kind of quantity."""
    if name in better:
        return better[name]
    parts = name.split(".")
    if len(parts) == 3 and parts[0] == "table":
        return better.get(f"table.ivf.{parts[2]}")
    return None


LOAD_FLAG = 1.0
ATTEMPTED_FLAG = 0.10


def loadavg():
    """The host's 1-minute load average, or None where /proc is absent."""
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def mean_load(host):
    xs = [x for x in (host.get("load_before"), host.get("load_after")) if x is not None]
    return sum(xs) / len(xs) if xs else None


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
    """pairs: [(parent, change)]; returns (wins, losses, text).

    `better` None (no declared direction) gives no verdict: '?'."""
    if better is None:
        return 0, 0, "?"
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


def bound_check(pairs, better, bound):
    """The bound check of an end-to-end metric over pairs [(parent, change)]:
    'worse>bound', 'unresolved', both, or 'within'."""
    sign = -1.0 if better == "lower" else 1.0
    parent = [a for a, _ in pairs]
    change = [b for _, b in pairs]
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    flags = []
    if sign * (cmed - pmed) < -bound * abs(pmed):
        flags.append("worse>bound")
    # every change run better than every parent run settles it however wide
    # the spread
    clean = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if not clean and (pq3 - pq1 > bound * abs(pmed) or cq3 - cq1 > bound * abs(cmed)):
        flags.append("unresolved")
    return ",".join(flags) or "within"


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
    bounds = end_to_end_bounds()
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
    hosts = {"parent": [], "change": []}
    try:
        with open(log_path, "w") as log:
            for i in range(a.n):
                seed = a.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    load0 = loadavg()
                    t0 = time.time()
                    r = run_once(trees[side], a.workload, seed, seconds, a.trace)
                    host = {"load_before": load0, "load_after": loadavg(),
                            "wall_s": round(time.time() - t0, 1)}
                    results[side].append(r)
                    hosts[side].append(host)
                    log.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                          "host": host, "result": r}) + "\n")
                    log.flush()
                    print(f"[ab] pair {i} seed {seed} {side}: "
                          f"{'ok' if 'metrics' in r else r.get('error')} "
                          f"correct={r.get('correct')} ({host['wall_s']:.0f} s, "
                          f"load {host['load_before']} -> {host['load_after']})",
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
    print(f"{'pair':>4s} {'seed':>6s} {'parent load before/after':>25s} {'wall':>6s} "
          f"{'ops':>5s} {'change load before/after':>25s} {'wall':>6s} {'ops':>5s}")
    for i, (hp, hc) in enumerate(zip(hosts["parent"], hosts["change"])):
        lp, lc = mean_load(hp), mean_load(hc)
        flags = []
        if lp is not None and lc is not None and abs(lp - lc) > LOAD_FLAG:
            flags.append("load differs by more than %.1f" % LOAD_FLAG)
        op, oc = (results[side][i].get("attempted") for side in ("parent", "change"))
        if op and oc and abs(oc - op) > ATTEMPTED_FLAG * op:
            flags.append("attempted differs by more than %d %%" % (100 * ATTEMPTED_FLAG))
        fmt = lambda h: f"{h['load_before']}/{h['load_after']}"
        ops = lambda n: "-" if n is None else str(n)
        print(f"{i:>4d} {a.seed0 + i:>6d} {fmt(hp):>25s} {hp['wall_s']:>6.0f} "
              f"{ops(op):>5s} {fmt(hc):>25s} {hc['wall_s']:>6.0f} {ops(oc):>5s}"
              + "".join("  " + f for f in flags))
    for side in ("parent", "change"):
        ops = [r["attempted"] for r in results[side] if r.get("attempted") is not None]
        if ops:
            print(f"  {side} attempted per run q1/med/q3: "
                  + "/".join(f"{x:.4g}" for x in quartiles(ops)))
    if not ok:
        return 1
    names = sorted(set(ok[0][0]["metrics"]) & set(ok[0][1]["metrics"]))
    print(f"{'metric':40s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'won':>6s} {'lost':>5s}  {'verdict':8s} bound")
    for name in names:
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in ok]
        pq = quartiles([x for x, _ in pairs])
        cq = quartiles([y for _, y in pairs])
        wins, losses, v = verdict(pairs, direction_of(name, better))
        b = (bound_check(pairs, better[name], bounds[name])
             if name in bounds and name in better else "")
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:40s} {fmt(pq):>28s} {fmt(cq):>28s} "
              f"{wins:>3d}/{len(pairs):<2d} {losses:>5d}  {v:8s} {b}".rstrip())
    return 0


if __name__ == "__main__":
    sys.exit(main())
