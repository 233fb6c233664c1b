#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result line.

    python3 perfbench/run.py --workload study_convert --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from this checkout's sources with sbt
the first time (and again whenever a source file changes), then runs the
harness JVM directly. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is a
report with every workload-specific metric and its sample count.

Generated inputs and outputs live in a per-run directory under
perfbench/.work/ that is always deleted; a traced run's span dump stays at
perfbench/.work/spans-<workload>-<seed>.jsonl.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
LAUNCH = os.path.join(BUILD_DIR, "launch.txt")
STAMP = os.path.join(BUILD_DIR, "stamp")
WORKLOADS = ("study_convert", "study_edit", "corpus_curate")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# a fixed-size heap under the parallel collector: the young generation is
# fully touched after the first collections, so peak RSS tracks what the
# program keeps (old generation, caches, metaspace), not GC timing; and no
# hsperfdata file in the system temp directory
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so any source edit rebuilds."""
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        inputs += [os.path.join(base, f) for f in sorted(os.listdir(base))
                   if f.endswith((".sbt", ".properties", ".scala"))]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(tree):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    h = hashlib.sha256()
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout, or when this script is
    interrupted or terminated, kill the whole group and wait for it, so no
    process outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-J-XX:-UsePerfData", "writeLaunch"]
    try:
        code, out, _ = run_group(sbt, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                                 stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main():
    # SIGTERM unwinds like Ctrl-C, through run_group's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/", 2)
    build()
    with open(LAUNCH) as f:
        lines = [l.strip() for l in f if l.strip()]
    classpath, jvm_opts = lines[0], lines[1:]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    spans = os.path.join("perfbench", ".work", f"spans-{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", *jvm_opts, "-cp", classpath,
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--spans", spans]
    try:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                 stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    if code != 0 or not lines:
        fail(f"harness exited with {code}", 5)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"no result line in harness output: {lines[-1][:200]}", 5)
    if len(lines) > 1:
        print(lines[-2])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
