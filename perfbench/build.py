#!/usr/bin/env python3
"""The benchmark's build: compile the program and the harness.

Usage (from the repository root):

    python3 perfbench/build.py

It compiles the program's sources (src/main) together with the harness's
(perfbench/src) with the Scala compiler that ships among Spark's jars
($SPARK_HOME/jars, /opt/spark/jars by default; the jar directory the
program's own build compiles against) into .bench_build/perfbench/classes/,
and prints the runtime classpath. A later build reuses the classes until a
source file or the jar set changes. It starts no sbt, so it needs no
dependency cache, repository settings or home directory: it reads nothing
outside the checkout but the JDK and those jars. run.py calls it before
every run.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_TIMEOUT_S = 600
JARS = os.path.join(os.environ.get("SPARK_HOME") or "/opt/spark", "jars")


def fail(msg, log_path=None):
    """Exit 2 without a result, showing the end of `log_path` first."""
    if log_path and os.path.isfile(log_path):
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-25:]
        sys.stderr.write("".join(tail))
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or exit,
    including an exit on SIGTERM."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def sources():
    """Scala sources of the program and the harness, in a fixed order."""
    found = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            found += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return found


def source_stamp(srcs, jars):
    """Hash of every source and of the jar set, so a changed tree rebuilds."""
    h = hashlib.sha256(ROOT.encode())
    for j in jars:
        h.update(os.path.basename(j).encode())
    for p in srcs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness; return the runtime classpath."""
    for d in ("logs", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        fail(f"no Scala compiler among the Spark jars in {JARS}; set SPARK_HOME")
    srcs = sources()
    classes = os.path.join(WORK, "classes")
    cp = os.pathsep.join([classes, os.path.join(JARS, "*")])
    stamp_file = os.path.join(WORK, "classes.stamp")
    stamp = source_stamp(srcs, jars)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(WORK, "tmp")
    log_path = os.path.join(WORK, "logs", "build.log")
    with open(log_path, "w") as log:
        code, _ = run_child(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.path.join(JARS, "*"), "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", classes, f"@{argfile}"],
            BUILD_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (exit {code}); see {log_path}", log_path)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


if __name__ == "__main__":
    print(build())
