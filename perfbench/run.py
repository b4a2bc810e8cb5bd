#!/usr/bin/env python3
"""Run one benchmark measurement from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program with sbt when the sources changed
since the last build (the first run in a checkout), then runs
graft.perfbench.Main in its own JVM. The last line of standard output is the
result JSON.

Exit codes: 0 all outputs correct, 1 some output wrong, 2 build or run error.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")

BUILD_TIMEOUT_S = 800
HEAP = "6g"
WORKLOADS = ("serve_mixed", "batch_registry")
# Seconds of set-up and of one timed block on a 4-core machine (README).
# A run is stopped only after several times its expected length, so a much
# slower program is still measured; a traced run replays its operations.
SETUP_S = {"serve_mixed": 30, "batch_registry": 50}
BLOCK_S = {"serve_mixed": 35, "batch_registry": 10}
TIMEOUT_FACTOR = 4
TRACE_FACTOR = 3

child = None  # the build or benchmark process running now


def stop_child(signum, _frame):
    """Stop the running child and its processes, then exit."""
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; returns (exit code or None on
    timeout, stdout). The whole group is killed on timeout."""
    global child
    child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = child.communicate(timeout=timeout)
        return child.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        return None, None


def run_timeout(args):
    w = args.workload
    t = TIMEOUT_FACTOR * (SETUP_S[w] + args.seconds + BLOCK_S[w])
    return t * (TRACE_FACTOR if args.trace == "1" else 1)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over every file the build compiles or is configured by."""
    h = hashlib.sha256()
    files = []
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, f) for f in (
        "build.sbt", "project/build.properties",
        "perfbench/build.sbt", "perfbench/project/build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(STAMP) and os.path.exists(LAUNCH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        rc, _ = run_child(["sbt", "-batch", "launchFile"], BUILD_TIMEOUT_S, cwd=BENCH,
                          stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_main(args, extra):
    """One JVM run of Main; returns (exit code, stdout lines)."""
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_flags = lines[0], lines[1:]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_flags + [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--out", OUT] + extra)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside the checkout
    log = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{extra[1]}.log")
    timeout = run_timeout(args)
    with open(log, "w") as err:
        rc, out = run_child(cmd, timeout, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                            text=True, env=env)
    if rc is None:
        fail(f"run exceeded {timeout:.0f} s; log in {log}")
    lines = out.splitlines()
    # exit 1 means a wrong output only when Main got as far as its result
    # line; an uncaught JVM error also exits 1
    if rc not in (0, 1) or not lines or not lines[-1].startswith("{"):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}); log in {log}")
    return rc, lines


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    args = p.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src; run from a full checkout")
    digest = source_digest()
    t0 = time.time()
    build(digest)
    built_s = time.time() - t0
    extra = ["--git-sha", digest[:16]]

    code, lines = run_main(args, ["--trace", args.trace] + extra)
    if built_s > 5:
        print(f"[perfbench] build took {built_s:.1f} s")
    print("\n".join(lines))
    sys.exit(code)


if __name__ == "__main__":
    main()
