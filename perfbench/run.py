#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion_chain --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(perfbench/build.sbt depends on the engine build one directory up) and
caches the runtime classpath under perfbench/.build, keyed by a hash of
every source and build file.  Later runs start the JVM directly.

Each run gets a fresh temporary root inside the checkout (.bench_tmp/),
which holds the Spark warehouse, the catalog warehouse, Spark's local
dirs and the JVM temp dir; it is removed when the run ends.  Traced runs
write their spans to .bench_out/.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics.  Any failure exits non-zero
without printing that line.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORKLOADS = ("medallion_chain", "lakehouse_rw", "corpus_dedup")
# A run must end within 180 s; the build of a fresh checkout is not counted.
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 800
# The same heap on every host, so runs stay comparable. Nothing is
# pre-touched, so the peak resident set counts only the pages the run
# touches. The young generation has a fixed size: every run soon touches
# all of it, so the resident set moves with what the engine keeps (old
# generation, memory outside the heap), not with how far the collector
# happened to grow the young generation.
HEAP_GB = 3
YOUNG_MB = 768


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads: engine and benchmark sources
    plus both build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files.extend(os.path.join(d, n) for n in sorted(names))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to the benchmark (expected build.sbt "
             "and src/main/scala/graft in the parent directory)")
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD_DIR, f"classpath-{fp[:16]}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True,
                             timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        errors = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40] or lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        os.remove(os.path.join(BUILD_DIR, old))
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    return cp


def git_commit():
    """The commit under test: git when available, else 'unknown' (an
    exported source tree has no .git)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    os.makedirs(os.path.join(ROOT, ".bench_tmp"), exist_ok=True)
    tmp_root = tempfile.mkdtemp(prefix=f"{args.workload}-",
                                dir=os.path.join(ROOT, ".bench_tmp"))
    out_dir = os.path.join(ROOT, ".bench_out")
    cmd = (["java", f"-Xmx{HEAP_GB}g", f"-Xms{HEAP_GB}g", f"-Xmn{YOUNG_MB}m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_root}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--tmp", tmp_root, "--out", out_dir,
              "--commit", git_commit()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp_root, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=RUN_DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        shutil.rmtree(tmp_root, ignore_errors=True)
        fail(f"run exceeded {RUN_DEADLINE_S} s and was killed")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(tmp_root, ignore_errors=True)
    try:
        os.rmdir(os.path.join(ROOT, ".bench_tmp"))
    except OSError:
        pass
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stderr[-6000:])
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"workload {args.workload} failed (exit {proc.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
