#!/usr/bin/env python3
"""Task-level benchmark of the graft engine.

Usage, from the repository root:

    python3 taskbench/run.py --workload compare_migrate --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
state; later runs reuse the build), then runs one JVM that sets up the
workload, measures it for --seconds and prints one JSON result line last on
stdout. Build output, inputs and result artifacts stay under .bench_build/
in the repository root. Exits non-zero without a result line when the
engine sources are missing or any step fails.
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
BUILD = os.path.join(ROOT, ".bench_build", "taskbench")
WORKLOADS = ("compare_migrate", "dedup")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# sources whose change requires a rebuild
SOURCES = [
    (ROOT, ["build.sbt", "project/build.properties", "src/main"]),
    (HERE, ["build.sbt", "project/build.properties", "src/main"]),
]


def log(msg):
    print(f"[taskbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base, entries in SOURCES:
        for entry in entries:
            path = os.path.join(base, entry)
            files = [path] if os.path.isfile(path) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build(digest):
    """Returns the JVM arguments of a run, building first when the sources
    changed since the last build."""
    stamp = os.path.join(BUILD, "build-stamp")
    args_file = os.path.join(BUILD, "launch-args.txt")
    if os.path.exists(stamp) and os.path.exists(args_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(args_file) as fh:
                    return fh.read().splitlines()
    log(f"building engine and benchmark (sources {digest})")
    t0 = time.time()
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchArgs"],
        BUILD_TIMEOUT_S, cwd=HERE, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if code != 0:
        raise RuntimeError(f"sbt build failed with exit code {code}")
    shutil.copyfile(os.path.join(HERE, "target", "launch-args.txt"), args_file)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    with open(args_file) as fh:
        return fh.read().splitlines()


def commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown: not a git checkout"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int, help="local[N] cores (default: nproc)")
    a = ap.parse_args()

    for needed in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            log(f"engine source {needed} not found next to the benchmark; nothing to build")
            return 2
    nproc = os.cpu_count()
    if a.cores is not None and a.cores > nproc:
        log(f"refusing local[{a.cores}]: only {nproc} processors")
        return 2

    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    jvm_args = build(digest)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           *jvm_args, "taskbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--results", os.path.join(BUILD, "results"),
           "--commit", commit(), "--source-digest", digest]
    if a.cores is not None:
        cmd += ["--cores", str(a.cores)]
    try:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both inside
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        log(f"benchmark JVM exited with code {code}")
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"malformed result line: {lines[-1]}")
        return 1
    print(json.dumps(result))
    return 0


def terminate(signum, _frame):
    # unwinds through run_bounded, which kills and reaps the child group
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, terminate)
    try:
        sys.exit(main())
    except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        log(f"failed: {e}")
        sys.exit(1)
