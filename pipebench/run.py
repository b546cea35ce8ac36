#!/usr/bin/env python3
"""Benchmark of the event pipeline, corpus curation and index serving.

Usage (from the repository root):

    python3 pipebench/run.py --workload <event_pipeline|index_serving>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 pipebench/run.py --selftest

Builds the program and the benchmark with sbt on first use (offline, once per
source state), packs the classes into jars and dumps a class-data-sharing
archive from one self-test run; then runs one JVM for the run. Every output of the run lives
in a temporary directory under pipebench/target/ that is removed at exit. The
last line of standard output is the run's result object. Exits non-zero when
a correctness check fails or nothing could be built.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "pipebench.stamp")
CLASSES = {"program.jar": os.path.join(ROOT, "target", "scala-2.13", "classes"),
           "pipebench.jar": os.path.join(TARGET, "scala-2.13", "classes")}
SPARK_JARS = "/opt/spark/jars"
# the serving workload's fixture tables (sf0.1 documents and embeddings)
DATA = os.path.join(HERE, "data", "sf0.1")
# class-data-sharing archive of the classes a run loads, dumped once per
# build by a self-test run
ARCHIVE = os.path.join(TARGET, "pipebench.jsa")
WORKLOADS = ("event_pipeline", "index_serving")
# Spark cores are pinned in the benchmark (local[4]); shuffle partitions match.
CORES = "4"
HEAP = "3g"
RUN_TIMEOUT_S = 170
# after a run's result line the JVM gets this long to exit before it is killed
EXIT_GRACE_S = 2
SELFTEST_TIMEOUT_S = 400
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    or interrupt, and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def run_until_result(cmd, timeout, **kw):
    """Like run_group, but ends the JVM once it has printed its result.

    The JVM's exit waits up to 10 s for a JIT compilation in progress, which
    belongs to no metric; so once the result line (a JSON object) is out,
    the JVM gets EXIT_GRACE_S to end and is then killed with its group.
    Returns (exit code, or None when killed after its result; stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         text=True, **kw)
    lines, done = [], threading.Event()

    def read():
        for line in p.stdout:
            lines.append(line)
            if line.startswith("{"):
                done.set()
        done.set()

    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    try:
        if not done.wait(timeout):
            raise subprocess.TimeoutExpired(cmd, timeout)
        try:
            code = p.wait(EXIT_GRACE_S)
        except subprocess.TimeoutExpired:
            code = None
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        p.wait()
        reader.join(5)
    return code, "".join(lines)


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: nothing to build the program from")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(STAMP) and open(STAMP).read() == digest:
            return
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]))
        try:
            code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "compile"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                                stdout=sys.stderr, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if code != 0:
            fail(f"build failed (sbt exit {code})")
        for jar, classes in CLASSES.items():
            path = os.path.join(TARGET, jar)
            with zipfile.ZipFile(path + ".tmp", "w") as z:
                for d, _, fs in os.walk(classes):
                    for f in sorted(fs):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, classes))
            os.replace(path + ".tmp", path)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        try:
            code, _ = run_java(["--selftest"], [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                               sys.stderr, SELFTEST_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        if code != 0 or not os.path.exists(ARCHIVE):
            print(f"[pipebench] self-test exit {code}; runs go on without "
                  "a class-data-sharing archive", file=sys.stderr)
        with open(STAMP, "w") as f:
            f.write(digest)


def java_cmd(work, args, jvm):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    classpath = [os.path.join(TARGET, j) for j in CLASSES] + sorted(
        os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xlog:all=warning:stderr"] + jvm + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", ":".join(classpath), "pipebench.Main", "--work", work, "--data", DATA] + args)


def run_java(args, jvm, stdout, timeout=RUN_TIMEOUT_S):
    """One benchmark JVM in a fresh work directory under pipebench/target/,
    removed when the JVM has ended. With stdout=PIPE the JVM is ended once
    it has printed its result (run_until_result)."""
    work = tempfile.mkdtemp(prefix="run-", dir=TARGET)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=CORES, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    cmd = java_cmd(work, args, jvm)
    try:
        if stdout == subprocess.PIPE:
            return run_until_result(cmd, timeout, cwd=work, env=env,
                                    stdin=subprocess.DEVNULL)
        return run_group(cmd, timeout, cwd=work, env=env, stdout=stdout,
                         stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a terminated run stops its JVM or sbt too (run_group kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    build()
    args = ["--selftest"] if a.selftest else [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    jvm = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    try:
        code, out = run_java(args, jvm, subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail("run timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    if not lines:
        fail(f"the run printed nothing (exit {code})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"the run's last line is not a result (exit {code})")
    print(json.dumps(result))
    if code not in (0, None) or result.get("correct") is not True and \
            result.get("selftest") is not True:
        sys.exit(1)


if __name__ == "__main__":
    main()
