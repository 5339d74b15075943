#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Run from the repository root:

    python3 graftbench/run.py --workload extract --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --selftest

The engine (src/main/scala) and the benchmark (graftbench/src) are compiled
together with the Scala compiler that ships in the Spark distribution
($SPARK_HOME/jars, default /opt/spark/jars) into .bench_build/, keyed by a
hash of the sources. The last line of standard output is the result object.
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
import zipfile

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("extract", "checkpoint", "corpus")
RUN_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    if not main:
        fail("engine sources src/main/scala not found; run from the repository root")
    if not bench:
        fail("benchmark sources not found")
    return main + bench


def build(jars):
    """Compile, pack the classes into a jar, then run the self-test once
    with -XX:ArchiveClassesAtExit so later runs start from a class-data
    archive. The archive records the jar's path, so it is built in place.
    """
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "build-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(out, "graftbench.jar"), "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    work = os.path.join(out, "selftest")
    log_path = os.path.join(out, "selftest.log")
    code, stdout = run_jvm(out, jars, "graftbench.SelfTest", ["--work", work], log_path,
                           work, cds_dump=True)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail("self-test failed during build:\n" + stdout + tail(log_path))
    open(os.path.join(out, ".done"), "w").close()
    return out


def run_jvm(build_dir, jars, main, args, log_path, work, cds_dump=False):
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    jsa = os.path.join(build_dir, "classes.jsa")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # ParallelGC: no concurrent collector threads competing with the four
    # task threads on a four-core host, and it touches only the heap in use.
    cmd = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmpdir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-XX:ArchiveClassesAtExit={jsa}" if cds_dump else f"-XX:SharedArchiveFile={jsa}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = os.path.join(build_dir, "graftbench.jar") + os.pathsep + os.path.join(jars, "*")
    cmd += ["-cp", cp, main] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; log: {log_path}", 3)
    return proc.returncode, out


def tail(path, n=40):
    with open(path) as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    build_dir = build(jars)
    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "run", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", name + ".log")
    if a.selftest:
        jargs = ["--work", work]
        main_cls = "graftbench.SelfTest"
    else:
        spans = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.json")
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", work, "--spans", spans]
        main_cls = "graftbench.Main"
    t0 = time.time()
    try:
        code, out = run_jvm(build_dir, jars, main_cls, jargs, log_path, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(tail(log_path))
        fail(f"{main_cls} exited with {code} after {time.time() - t0:.1f}s", 4)
    if not a.selftest:
        res = json.loads(lines[-1])
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            fail("malformed result line", 4)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
