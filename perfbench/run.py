#!/usr/bin/env python3
"""KG-construction benchmark: builds the program with the benchmark's own sbt
build (perfbench/build.sbt) and runs one workload in a fresh JVM.

Run from the repository root:

    python3 perfbench/run.py --workload dense_short --seed 1 --seconds 10 --trace 0

The last line of stdout is the JSON result. Build outputs go to
perfbench/target/, scratch data and span files to .bench_build/.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
SPARK_JARS = pathlib.Path("/opt/spark/jars")
WORKLOADS = ("dense_short", "long_docs")
BUILD_TIMEOUT_S = 840
# The JVM is killed after --seconds plus this margin: twice the slowest run
# seen on the reference host (a traced run), so a run on a slow stretch of
# a shared host still reports instead of being killed
RUN_MARGIN_S = 212
# a fixed JVM heap, so jvm.peak_rss_mb compares like with like
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def source_digest():
    files = sorted(p for d in (PROGRAM_SRC, BENCH / "src" / "main") for p in d.rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and reaped."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    stamp = BUILD / "build.stamp"
    digest = source_digest()
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + str(pathlib.Path.home() / ".sbt" / "repositories"),
           "-Dsbt.offline=true", "compile"]
    code, _ = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                          stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if code != 0:
        sys.exit("perfbench: build failed")
    stamp.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--files", type=int,
                    help="override the corpus size, for sizing studies only")
    a = ap.parse_args()
    # a terminated benchmark still stops and reaps its build or JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (PROGRAM_SRC / "graft").is_dir():
        sys.exit(f"perfbench: program sources not found under {PROGRAM_SRC}")
    BUILD.mkdir(exist_ok=True)
    build()

    work = BUILD / f"work-{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:G1HeapRegionSize=32m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work)]
    if a.files:
        cmd += ["--files", str(a.files)]
    try:
        code, out = run_bounded(cmd, a.seconds + RUN_MARGIN_S, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        sys.exit(f"perfbench: benchmark exited with code {code}")
    if set(json.loads(lines[-1])) != RESULT_KEYS:
        sys.exit("perfbench: malformed result line")
    print(lines[-1])


if __name__ == "__main__":
    main()
