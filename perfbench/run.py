#!/usr/bin/env python3
"""Pipeline benchmark runner: builds the program and the benchmark from
source, runs one workload in one JVM and prints its result.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest      # the benchmark's own unit tests

Run from the repository root. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics. Everything the
run writes stays under the current directory: classes in .bench_build/,
scratch stores in .bench_work/ (removed at exit), traces in .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("backfill", "operators")
HEAP = "3g"
RUN_TIMEOUT_S = 165

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would pass (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME, else the first
    installation on PATH whose spark-submit sits beside a jars/ directory."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return os.path.join(jars, "*")
    die("no Spark jars found; set SPARK_HOME")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_to(dest, files, classpath):
    """Compiles `files` with the Scala compiler shipped in the Spark jars."""
    if os.path.exists(os.path.join(dest, ".ok")):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java_bin(), "-Xmx2g", "-Xss16m", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compilation failed ({len(files)} files)", 3)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    open(os.path.join(dest, ".ok"), "w").close()
    print(f"[perfbench] compiled {len(files)} files in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return dest


def build():
    """Program and benchmark classes, rebuilt when any source changes."""
    if not os.path.isdir(PROGRAM_SRC):
        die(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}; "
            "run from the repository root")
    files = sources(PROGRAM_SRC, os.path.join(BENCH, "src"))
    jars = spark_jars()
    dest = os.path.join(BUILD, digest(files), "classes")
    return compile_to(dest, files, jars) + os.pathsep + jars


def run_java(classpath, main, args, timeout):
    """Runs one JVM in its own process group; kills the group on timeout.
    Returns (exit code, stdout lines)."""
    work_tmp = os.path.join(WORK, f"jvm-{os.getpid()}")
    os.makedirs(os.path.join(work_tmp, "tmp"), exist_ok=True)
    cmd = [java_bin(), f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work_tmp}/tmp",
        f"-Dspark.local.dir={work_tmp}/spark-local",
        f"-Dspark.hadoop.hadoop.tmp.dir={work_tmp}/hadoop",
        f"-Dspark.sql.warehouse.dir={work_tmp}/warehouse",
        f"-Dderby.system.home={work_tmp}",
        "-Dspark.ui.enabled=false",
        # keep little job, stage, task and query history in Spark's status
        # store, so the heap left at run end is the program's own state
        "-Dspark.ui.retainedJobs=10", "-Dspark.ui.retainedStages=10",
        "-Dspark.ui.retainedTasks=100", "-Dspark.sql.ui.retainedExecutions=10",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=ROOT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {timeout}s and was stopped", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work_tmp, ignore_errors=True)
    return proc.returncode, out.splitlines()


def declared_per_layer():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh).get("per_layer", [])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    classpath = build()
    os.makedirs(WORK, exist_ok=True)
    if a.selftest:
        tests = sources(os.path.join(BENCH, "test"))
        dest = os.path.join(BUILD, digest(tests) + "-" +
                            os.path.basename(os.path.dirname(classpath.split(os.pathsep)[0])),
                            "test-classes")
        test_cp = compile_to(dest, tests, classpath) + os.pathsep + classpath
        code, lines = run_java(test_cp, "perfbench.SelfTest", [], RUN_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(code)
    if not a.workload:
        ap.error("--workload is required")

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    try:
        code, lines = run_java(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work,
            "--data", os.path.join(BENCH, "data"), "--out", OUT], RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = context = None
    for line in lines:
        if line.startswith('{"correct"'):
            result = json.loads(line)
        elif line.startswith('{"context"'):
            context = json.loads(line)["context"]
    if code != 0 or result is None:
        die(f"benchmark JVM exited with code {code} without a result", 1)
    if a.trace:
        # a traced run reports every declared per-layer metric; those of the
        # other workloads read 0 because their work did not run
        for m in declared_per_layer():
            result["metrics"].setdefault(m["name"], {"value": 0, "unit": m["unit"]})
    context = dict(context or {}, loadavg=list(os.getloadavg()), heap=HEAP)
    print(json.dumps({"context": context}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
