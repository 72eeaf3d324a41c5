#!/usr/bin/env python3
"""CDC pipeline benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 24 --trace 0

Builds the benchmark (perfbench/build.sbt, which compiles the library in
this repository together with the benchmark's own sources) once per source
state, then runs one benchmark JVM and prints its result: detail lines,
then one JSON line with `correct`, `attempted`, `failed` and `metrics`.
Exits non-zero when the build fails, when an output is wrong, or when the
JVM does not finish in time.

Build output and run scratch space go under $CARGO_TARGET_DIR (default
`.bench_build`) in the current directory.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc_trickle", "cdc_backfill")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(root, "project"),
                os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".sbt", ".properties"))]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, build_dir):
    """Compile once per source state; returns the launch line file."""
    launch = os.path.join(build_dir, "launch.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return launch
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.launch={launch}", "writeLaunch"]
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if rc != 0 or not os.path.exists(launch):
        fail(f"build failed, see {os.path.join(build_dir, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a graft checkout: {need} is missing under {root}")
    data = os.path.join(HERE, "data", "sf0.01")
    if not os.path.isdir(data):
        fail(f"query data missing: {data}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    launch = build(root, build_dir)
    with open(launch) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    jvm_opts, classpath = lines[:-1], lines[-1]

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", data,
            "--hashes", os.path.join(HERE, "query_hashes.tsv")])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
    with open(os.path.join(build_dir, "last_stderr.log"), "w") as f:
        f.write(err)
    keep_spans = [os.path.join(work, n) for n in os.listdir(work) if n.startswith("spans-")]
    for p in keep_spans:
        shutil.move(p, os.path.join(build_dir, os.path.basename(p)))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(err[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
