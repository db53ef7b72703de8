#!/usr/bin/env python3
"""Builds graft and the benchmark from source, then runs one benchmark workload.

Run from the root of the repository:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the spans to
`.bench_build/perfbench/traces/`. `--self-test` runs the benchmark's own
tests; `--pin-dir DIR` writes the oracle SQL and Spark's answer hashes
over the `query_mix` tables to DIR (see pin.py). Build outputs and per-run
scratch space live under `.bench_build/perfbench/`; the scratch directory
of a run is removed when it ends.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = os.path.join(HERE, "data", "sf0.01")
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")
CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"
JVM_TIMEOUT_S = 170
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution at SPARK_HOME, or of the one whose
    spark-submit is on the PATH; its scala-compiler jar builds the sources."""
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return jars


def sources(*dirs):
    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"no Scala sources under {', '.join(dirs)}; run from the repository root")
    return files


def scalac(jars, classpath, files, dest):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", cp] + files
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        fail(f"compilation into {dest} failed")


def jar(classes, dest):
    """Packs a class directory into a jar (class-data sharing archives only jars)."""
    with zipfile.ZipFile(dest, "w") as z:
        for root, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(root, f)
                z.write(path, os.path.relpath(path, classes))


def build(with_tests=False):
    """Compiles graft and the benchmark once per source state, then records
    the class-data sharing archive every benchmark run maps (one untimed JVM
    that makes the first pass of each workload); the tests on request."""
    jars = spark_jars()
    main = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "scala"))
    digest = hashlib.sha256()
    for f in main + bench:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    graft, classes = os.path.join(OUT, "graft-classes"), os.path.join(OUT, "bench-classes")
    cp = [classes + ".jar", graft + ".jar"] + jars
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()):
        os.makedirs(OUT, exist_ok=True)
        for stale in (stamp, CDS_ARCHIVE):
            if os.path.exists(stale):
                os.remove(stale)
        scalac(jars, jars, main, graft)
        scalac(jars, [graft] + jars, bench, classes)
        jar(graft, graft + ".jar")
        jar(classes, classes + ".jar")
        work = os.path.join(OUT, f"record-{os.getpid()}")
        try:
            code, _ = run_jvm(cp, "perfbench.Bench", ["--record-classes", "1", *bench_args(work)],
                              work, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}", CDS_QUIET])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.exists(CDS_ARCHIVE):
            fail("recording the class-data sharing archive failed")
        with open(stamp, "w") as fh:
            fh.write(digest.hexdigest())
    if with_tests:
        tests = os.path.join(OUT, "test-classes")
        scalac(jars, cp, sources(os.path.join(HERE, "tests")), tests)
        cp = [tests] + cp
    return cp


def bench_args(work):
    return ["--work", work, "--tables", TABLES, "--expected", os.path.join(HERE, "expected.json")]


def run_jvm(cp, main_class, args, work, jvm_flags=(f"-XX:SharedArchiveFile={CDS_ARCHIVE}", CDS_QUIET)):
    """Runs one JVM in the scratch directory `work`; by default it maps the
    class-data sharing archive, which shortens JVM and Spark start-up and
    leaves the compiled code as it is."""
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *jvm_flags, f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", os.pathsep.join(cp), main_class, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{main_class} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:  # timed out, or this script was interrupted
            proc.kill()
            proc.wait()
    return proc.returncode, out.splitlines()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwinds through run_jvm's cleanup
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="query_mix",
                    choices=["etl_ingest", "query_mix"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--pin-dir")
    a = ap.parse_args()

    cp = build(with_tests=a.self_test)
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.self_test:
            code, lines = run_jvm(cp, "perfbench.SelfTest", [], work)
            print("\n".join(lines))
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), *bench_args(work),
                "--trace-out", os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")]
        if a.pin_dir:
            args += ["--pin-dir", os.path.abspath(a.pin_dir)]
        code, lines = run_jvm(cp, "perfbench.Bench", args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in results:
            print(l)
    if code != 0 or (not a.pin_dir and not results):
        fail(f"benchmark JVM exited with code {code}")
    if results:
        json.loads(results[-1])
        print(results[-1])


if __name__ == "__main__":
    main()
