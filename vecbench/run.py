#!/usr/bin/env python3
"""Build and run the vector-catalog benchmark.

    python3 vecbench/run.py --workload serve_rw_d384 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the benchmark
together with the engine sources of that checkout (sbt, offline) and keeps
the classpath under .bench_build/; later runs reuse it while the sources are
unchanged. Each run then starts one JVM (Spark local[nproc], heap fixed at
-Xms = -Xmx) that builds a fresh catalog under .bench_build/runs/, measures,
checks every output and prints one JSON result as its last stdout line.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "vecbench")
RUNS_DIR = os.path.join(ROOT, ".bench_build", "runs")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[vecbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.path.basename(d) == "target" or "/target/" in d + "/":
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}: "
            "run from the root of a full checkout")
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, f"classpath-{source_stamp()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    print("[vecbench] building (sbt compile)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
            text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and "scala-library" in l), None)
    if out.returncode != 0 or cp is None:
        sys.stderr.write(out.stdout)
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def heap_gb():
    """The Tier-1 driver heap: half the machine's memory, clamped to 2..8 GB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return max(2, min(8, total // (2 << 30)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(RUNS_DIR, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    g = heap_gb()
    cmd = [java, f"-Xms{g}g", f"-Xmx{g}g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["--add-modules=jdk.incubator.vector", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "vecbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--root", run_dir, "--scale", a.scale]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", 3)
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
