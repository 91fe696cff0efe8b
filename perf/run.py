#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perf/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine's sources plus the benchmark (perf/build.sbt, offline
sbt) when the build is missing or older than a source file, then runs
perf.Main in one JVM with Spark on local[nproc]. The report lines come
first; the last stdout line is the JSON result. Exits non-zero without a
result when the engine sources are absent, the build fails, or the run
fails or overruns its time limit.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perf.classpath")

WORKLOADS = ("pipeline_batch", "knn_serve")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

# the module opens spark-submit passes to a JDK 17 JVM
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perf/run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """SPARK_HOME/jars, else the jars directory the engine build names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def newest_source_mtime():
    newest = 0.0
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        newest = max(newest, os.path.getmtime(os.path.join(HERE, f)))
    return newest


_child = None


def _stop_child(signum, _frame):
    """Take the child's process group down with us on SIGTERM/SIGINT."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.communicate()
        return None, None
    return _child.returncode, out


def build(jars):
    if (os.path.exists(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime()):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    offline = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        offline.append(f"-Dsbt.repository.config={repos}")
    for o in offline:
        if not any(x.split("=")[0] == o.split("=")[0] for x in opts):
            opts.append(o)
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperf.sparkJars={jars}",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out", 3)
    lines = [l for l in out.splitlines() if os.path.join("target", "scala-") in l
             and ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out)
        fail("build printed no classpath", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    jars = spark_jars()
    classpath = build(jars)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(TARGET, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perf.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=sys.stderr, text=True)
        spans = os.path.join(work, "trace", "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(TARGET, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(TARGET, "traces", f"{tag}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = (out or "").strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        fail(f"run failed with exit code {code}", 5)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out)
        fail("last line is not a JSON result", 5)
    os.makedirs(os.path.join(TARGET, "results"), exist_ok=True)
    with open(os.path.join(TARGET, "results", f"{tag}.txt"), "w") as f:
        f.write(out)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
