#!/usr/bin/env python3
"""Benchmark driver for the Spark fulltext engine.

Run from the repository root:

    python3 perfbench/run.py --workload build|serve|update|dedup --seed N \
        --seconds S --trace 0|1

The first run compiles the engine's sources together with the harness
(sbt, offline) into .bench_build/; later runs reuse the classes. The
run's JSON result is the last line of stdout. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(OUT, "sources.sha256")
WORKLOADS = ("build", "serve", "update", "dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory the engine's
    own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else ""


def sources_digest():
    """Digest of every input of the build: engine sources and harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, ds, fs in os.walk(r)
                           if "target" not in d.split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(jars):
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["PERFBENCH_SPARK_JARS"] = jars
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
        "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData", "-Xmx2g"])
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "--sbt-dir", os.path.join(OUT, "sbt-dir"), "Compile/products"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log in {log})", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the checker's self-check: on the workload's small instance, damage
    # one result before it is compared
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"Spark jars not found (SPARK_HOME={os.environ.get('SPARK_HOME')})")
    build(jars)

    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.json")
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp directory
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-out", trace_out,
            "--corrupt", str(a.corrupt)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE)

    def reap():
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    def on_signal(signum, _frame):
        reap()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        reap()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    reap()
    lines = out.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited with code {proc.returncode}", 5)
    if a.trace:
        print(f"trace written to {os.path.relpath(trace_out, ROOT)}",
              file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
