#!/usr/bin/env python3
"""Session benchmark of the filemapspark library.

    python3 perfbench/run.py --workload adhoc|index|fm --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (offline) and caches the classpath
under .bench_build/; later runs launch the JVM directly. Every file the
benchmark writes stays under .bench_build/ in the checkout.

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics; the line before it is the full record.
See perfbench/NOTES.md for the workloads and the metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("adhoc", "index", "fm")

# Pinned session and JVM configuration (the library's Local.session
# derives master local[N] and N shuffle partitions from SPARK_GRAFT_CPUS).
CPUS = "4"
HEAP = "2g"
JVM_OPTS = [
    "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:ActiveProcessorCount=" + CPUS,
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
JVM_TIMEOUT_S = 170
SBT_TIMEOUT_S = 700


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of everything the build compiles, so a stale classpath is
    never reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building with sbt when needed."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" +
           os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", "export perfbench/Runtime/fullClasspath"]
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    p = run_child(cmd, BENCH, env, SBT_TIMEOUT_S)
    lines = [l for l in p[1].splitlines() if ".jar" in l and
             not l.startswith("[")]
    sys.stderr.write("\n".join(l for l in p[1].splitlines()
                               if l not in lines) + "\n")
    if p[0] != 0:
        log("build failed")
        sys.exit(3)
    if not lines:
        log("build printed no classpath")
        sys.exit(3)
    log("built in %.1f s" % (time.time() - t0))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_child(cmd, cwd, env, timeout):
    """Runs cmd in its own process group; returns (code, stdout, stderr
    passthrough). The whole group is killed on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=None if cmd[0] == "java" else subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log("timed out after %d s: %s" % (timeout, " ".join(cmd[:3])))
        return 124, "", ""
    return p.returncode, out, ""


def java(cp, work, args, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_")}
    env.update(SPARK_GRAFT_CPUS=CPUS, TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + JVM_OPTS +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "perfbench.Main", "--spawn-ms",
            "%.3f" % (time.time() * 1e3)] + args)
    return run_child(cmd, work, env, timeout)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--data", default="sf0.01",
                    help="fixture tier under perfbench/data (default sf0.01)")
    ap.add_argument("--spans", help="also write the traced spans (JSONL) here")
    ap.add_argument("--fm-lines", type=int, default=1500,
                    help="lines per file of the fm tree (default 1500)")
    ap.add_argument("--record-expected", action="store_true",
                    help="(re)write perfbench/expected/<data>.tsv and exit")
    a = ap.parse_args()

    lib = os.path.join(ROOT, "src", "main", "scala", "graft", "Registry.scala")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.exists(lib)):
        log("the library sources (build.sbt, src/main/scala/graft) are not "
            "in this checkout; run from the root of a full checkout")
        sys.exit(2)
    data = os.path.join(BENCH, "data", a.data)
    expected = os.path.join(BENCH, "expected", a.data + ".tsv")
    cp = build()
    work = os.path.join(BUILD, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.record_expected:
            code, out, _ = java(cp, work, ["--mode", "record", "--data", data,
                                           "--work", work, "--expected",
                                           expected], timeout=3600)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--data", data, "--work", work, "--expected", expected,
                "--workloads", os.path.join(BENCH, "workloads.tsv"),
                "--fm-lines", str(a.fm_lines)]
        if a.spans:
            args += ["--spans", os.path.abspath(a.spans)]
        code, out, _ = java(cp, work, args)
        lines = out.strip().splitlines()
        if code != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(out)
            log("benchmark JVM exited with code %d" % code)
            sys.exit(5)
        sys.stdout.write(out if out.endswith("\n") else out + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
