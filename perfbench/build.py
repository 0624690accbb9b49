#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

Usage (from the root of a checkout):  python3 perfbench/build.py

1. The program, with the repository's own sbt build (`sbt compile`,
   offline), into `target/scala-2.13/classes`.
2. The harness (`perfbench/harness/src/*.scala`) with the Scala compiler
   that ships in Spark's jar directory (the one build.sbt names), against
   the program's classes, into `perfbench/.work/harness-classes`.

A digest of every input is kept in `perfbench/.work/build.stamp`; when it
matches, nothing is rebuilt. A lock file serialises concurrent builds.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
HARNESS_SRC = os.path.join(BENCH, "harness", "src")
HARNESS_OUT = os.path.join(WORK, "harness-classes")
TMP = os.path.join(WORK, "tmp")
# Build JVMs keep their temporary files in the checkout.
JVM_TMP = [f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData"]


def spark_jars(root):
    """Spark's jar directory, as the program's own build names it
    (`unmanagedBase` in build.sbt)."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def program_classes(root):
    return os.path.join(root, "target", "scala-2.13", "classes")


def classpath(root):
    return os.pathsep.join([HARNESS_OUT, program_classes(root),
                            os.path.join(spark_jars(root), "*")])


def inputs(root):
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), HARNESS_SRC):
        files += glob.glob(os.path.join(base, "**", "*.*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def digest(root):
    h = hashlib.sha256()
    for f in inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g"] + JVM_TMP
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run(cmd, cwd, log, env=None):
    with open(log, "ab") as fh:
        rc = subprocess.run(cmd, cwd=cwd, env=env, stdout=fh,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise RuntimeError(f"build step failed ({rc}): {' '.join(cmd)}; see {log}")


def build(root):
    """Builds what is stale; returns the seconds spent (0.0 when fresh)."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise RuntimeError(f"{root} holds no graft sources (build.sbt, src/main/scala/graft)")
    os.makedirs(TMP, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    log = os.path.join(WORK, "build.log")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = digest(root)
        if os.path.isfile(stamp) and open(stamp).read() == want:
            return 0.0
        t0 = time.monotonic()
        run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], root, log, sbt_env())
        if not os.path.isfile(os.path.join(program_classes(root), "graft", "SparkEntry.class")):
            raise RuntimeError(f"sbt compile left no graft classes; see {log}")
        shutil.rmtree(HARNESS_OUT, ignore_errors=True)
        os.makedirs(HARNESS_OUT)
        run(["java"] + JVM_TMP + ["-cp", os.path.join(spark_jars(root), "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-cp", program_classes(root), "-d", HARNESS_OUT]
            + sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala"))), root, log)
        with open(stamp, "w") as fh:
            fh.write(want)
        return time.monotonic() - t0


if __name__ == "__main__":
    try:
        print(f"built in {build(os.getcwd()):.1f} s")
    except RuntimeError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
