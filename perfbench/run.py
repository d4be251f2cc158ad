#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while no source file has changed, and
launch the benchmark JVM directly.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("stac_search", "scan_remote", "dedup_lifecycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# The heap is committed at its full size but not pre-touched, and its young
# generation is fixed at 256 MB: the collector never resizes either, so the
# resident set grows only with the pages the program's objects reach. A
# growable heap was resized from GC pause times, and peak RSS of one commit
# then spread by ~20% between runs.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn256m"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build depends on."""
    paths = [os.path.abspath(__file__),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            paths.extend(os.path.join(d, f) for f in files)
    return sorted(paths)


def source_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (expected build.sbt and src/main/scala "
             "at the checkout root)")
    stamp = os.path.join(TARGET, "build.stamp")
    digest = source_hash(source_files())
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    t0 = time.time()
    with open(log_path, "w") as log:
        code, _ = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                              HERE, BUILD_TIMEOUT_S, env=env, stdout=log,
                              stderr=subprocess.STDOUT)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code})")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def run_benchmark_jvm(workload, seed, seconds, trace):
    """Run perfbench.Main in a fresh JVM with a scratch directory of its own."""
    with open(os.path.join(TARGET, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(TARGET, "jvmopts.txt")) as f:
        jvm_opts = [l for l in f.read().splitlines() if l.strip()]
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", trace, "--work", work, "--out", os.path.join(HERE, "out")])
    try:
        return run_bounded(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    build()
    try:
        code, out = run_benchmark_jvm(args.workload, args.seed, args.seconds, args.trace)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark JVM printed no result line")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
