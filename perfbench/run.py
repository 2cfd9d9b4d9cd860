#!/usr/bin/env python3
"""Pipeline-first benchmark for the graft engine.

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 12 --trace 0

Builds the program plus the benchmark from source (sbt, once per source
state; later runs reuse the classpath), then launches one JVM that runs the
workload against the public API, checks every output against ground truth
kept on the benchmark's side, and prints as its last stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}. The preceding line is
the full record (every metric by name and unit, host load, heap, seed and
sample counts). See perfbench/README.md.

Exit codes: 0 ok, 1 correctness mismatch or workload failure, 2 the
program's sources are missing or the build failed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("incremental", "serve")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    """Every file whose change invalidates the build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = stamp_of(source_files())
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(2)
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "Pipeline.scala")):
        sys.stderr.write("perfbench: the program's sources (src/main) are not "
                         "beside perfbench/; run from a full checkout\n")
        return 2
    cp = build()
    work = os.path.join(ROOT, ".bench_work", "%s-%d" % (a.workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
            "-XX:SoftRefLRUPolicyMSPerMB=0", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work])
    # local mode only: bind the driver to loopback so start-up never waits
    # on resolving the host name
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write("perfbench: run exceeded %d s\n" % JVM_TIMEOUT_S)
        rc = 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
