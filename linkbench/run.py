#!/usr/bin/env python3
"""Run one linkbench workload from the root of a checkout.

    python3 linkbench/run.py --workload link_batch --seed 1 --seconds 25 --trace 0

Builds the engine (src/main/scala) and the benchmark (linkbench/src) with
the Scala compiler shipped in the Spark distribution, unless the build
under linkbench/.build already matches the sources, then runs
linkbench.Main in one JVM with a local[4] Spark session. The human-readable
report and the host record go to stdout; the last stdout line is the
result JSON. Exits non-zero, printing no result, when the engine sources
or the Spark distribution are missing, or when the run fails.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# a run is expected to end within 180 s; this leaves time to report a hung JVM
RUN_GRACE_S = 140

# Spark on JDK 17 outside spark-submit needs these (the launcher's defaults)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
JVM_FLAGS = [
    "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-Xss8m",
] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("linkbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark distribution whose
    bin/spark-submit is on PATH; the Scala compiler must be among them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def build(jars):
    """Compile engine and benchmark sources into BUILD/classes; returns the source hash."""
    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources not found at " + ENGINE_SRC + "; run from a full checkout")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    sha = h.hexdigest()[:16]
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == sha:
        return sha
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp] + files
    print("linkbench: compiling %d sources" % len(files), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        fail("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(sha)
    return sha


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # a terminated run stops its compiler or benchmark JVM before it exits
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    jars = spark_jars()
    sha = build(jars)
    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_FLAGS + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.path.join(BUILD, "classes") + os.pathsep + os.path.join(jars, "*"),
        "linkbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", run_dir,
        "--data", os.path.join(HERE, "data"),
        "--source-sha", sha, "--git-commit", git_commit()]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=a.seconds + RUN_GRACE_S)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.replace(spans, os.path.join(WORK, "spans-%s-seed%d.jsonl" % (a.workload, a.seed)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %.0f s; killed" % (a.seconds + RUN_GRACE_S))
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith('{"correct"'):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith('{"correct"')) + "\n")
        fail("run failed with exit code %d" % proc.returncode)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
