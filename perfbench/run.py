#!/usr/bin/env python3
"""Job-level benchmark of etlcorespark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload small_jobs --seed 1 --seconds 10 --trace 0

Builds the benchmark program (perfbench/build.sbt, which compiles the
checkout's own sources) when its inputs changed, then runs one workload in
a fresh JVM. Its report goes to stdout and its last line is the
result object; Spark's log goes to .bench_build/logs/. Exit status is 0
when every output check passed, 1 when one failed, 2 on any other error.

Optional: --results DIR collects one JSON file per run for compare.py
(default .bench_build/results).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("small_jobs", "curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for base in ("src/main", "perfbench/src/main"):
        for d, _, fs in os.walk(os.path.join(ROOT, base)):
            if "/target" in d:
                continue
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    out += ["build.sbt", "project/build.properties", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    return sorted(p for p in out if os.path.isfile(os.path.join(ROOT, p)))


def stamp():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return p, None


def build():
    """Compile when the sources changed; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false -Xmx2g").strip()
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as lf:
        _, code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    with open(log) as lf:
        lines = [l.strip() for l in lf if ".jar" in l and " " not in l.strip()]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1] + "\n")
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    # input digests recorded by another build's generator do not apply
    shutil.rmtree(os.path.join(BUILD, "work", "manifests"), ignore_errors=True)
    print(f"[build] compiled in {time.time() - t0:.1f} s", flush=True)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--results", default=os.path.join(BUILD, "results"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{ROOT} holds no etlcorespark sources (src/main/scala/graft); "
             "run from the root of a checkout")
    cp = build()
    for d in ("tmp", "logs", "work"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", os.path.join(BUILD, "work"),
        "--results", os.path.abspath(a.results)]
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    with open(log, "w") as lf:
        _, code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stderr=lf,
                            stdin=subprocess.DEVNULL)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    if code not in (0, 1):
        with open(log) as lf:
            tail = lf.readlines()[-15:]
        sys.stderr.write("".join(tail))
        fail(f"run failed (exit {code}); see {log}")
    sys.exit(code)


if __name__ == "__main__":
    main()
