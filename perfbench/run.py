#!/usr/bin/env python3
"""Benchmark of record for graft.

Builds the library and the benchmark from source into .bench_build/,
then runs one workload in one JVM and prints one JSON result line:

    python3 perfbench/run.py --workload bulk_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Everything the run writes (classes, generated inputs, Spark scratch,
span files) stays under .bench_build/ in the checkout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
WORKLOADS = ["bulk_etl", "hop_serve", "ingest_mixed", "curation"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the project builds against (build.sbt's
    unmanagedBase), else $SPARK_HOME/jars."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build_sbt):
        with open(build_sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jars: build.sbt names no existing unmanagedBase and SPARK_HOME is unset")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("src/main/scala not found: run from a checkout of the repository")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def jvm_cmd(cp, work):
    """The java command line shared by the class-loading run and every
    measured run (the class archive requires identical settings). JVM
    warnings and errors go to stderr, so stdout carries only the result."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + work,
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp,
    ]


def build(jars):
    """Compile library + benchmark sources once per source content into
    .bench_build/classes-<hash>/, pack them as bench.jar, and archive the
    classes a run loads (app.jsa) so each run starts faster. The archive
    is mandatory: every run starts on the same path or not at all."""
    srcs = sources()
    h = hashlib.sha1(ROOT.encode())  # the archive records absolute jar paths
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    jar = os.path.join(out, "bench.jar")
    cp = os.pathsep.join([jar] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    archive = os.path.join(out, "app.jsa")
    if os.path.isfile(os.path.join(out, ".complete")):
        return cp, archive
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    t0 = time.time()
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed", 4)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    print(f"[perfbench] compiled in {time.time() - t0:.1f}s; archiving classes", file=sys.stderr)
    work = os.path.join(BUILD, "work", f"train-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        r = subprocess.run(jvm_cmd(cp, work) + [f"-XX:ArchiveClassesAtExit={archive}",
                           "perfbench.Main", "--train", "--work", work],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=work, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(archive):
        sys.stderr.write("\n".join(r.stdout.splitlines()[-40:]) + "\n")
        shutil.rmtree(out, ignore_errors=True)
        fail(f"class archive not built (exit {r.returncode})", 4)
    open(os.path.join(out, ".complete"), "w").close()
    print(f"[perfbench] build done in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, archive


def run_jvm(cp, archive, args, work, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -Xshare:on: the JVM refuses to start rather than run without the archive.
    cmd = jvm_cmd(cp, work) + ["-Xshare:on", f"-XX:SharedArchiveFile={archive}"]
    cmd += ["perfbench.Main", "--work", work] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, cwd=work,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the run did not finish within {timeout}s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    cp, archive = build(jars)
    tag = "selftest" if a.self_test else f"{a.workload}-{a.seed}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    try:
        if a.self_test:
            code, out = run_jvm(cp, archive, ["--self-test"], work, timeout=900)
            sys.stdout.write(out)
            sys.exit(code)
        trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        code, out = run_jvm(cp, archive, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--trace-out", trace_out], work)
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l, file=sys.stderr)
        if code != 0 or not lines or not lines[-1].startswith("{"):
            fail(f"the run failed (exit {code})", code or 1)
        print(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
