#!/usr/bin/env python3
"""Seeded end-to-end benchmark of graft.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Builds the checkout's graft sources together with the benchmark program
(perfbench/build.sbt) when the build is missing or older than a source file,
then runs one workload in one JVM. The last line of standard output is the
result object: correct, attempted, failed and metrics. Workloads, metrics and
the layer each metric belongs to are described in perfbench/README.md.
"""
import argparse
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# the module opens Spark needs on JDK 17 when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources at src/main/scala/graft; run from a graft checkout")
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeClasspath"]
    proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("build timed out", 3)
    if rc != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed ({rc})", 3)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test runs tiny sizes)")
    p.add_argument("--corrupt-expected", type=int, choices=[0, 1], default=0,
                   help="perturb one expected value, so a check must fail")
    a = p.parse_args()
    if a.workload not in ("ingest", "scan", "point", "neardup"):
        die(f"unknown workload {a.workload}")

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={WORK}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", str(a.scale),
        "--corrupt-expected", str(a.corrupt_expected), "--work-dir", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        die(f"run exceeded {RUN_LIMIT_S} s", 4)
    stop()  # the JVM has exited; clear any helper it left in its group
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        die(f"run failed ({proc.returncode})", proc.returncode or 5)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
