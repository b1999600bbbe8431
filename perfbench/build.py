#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) into one jar with the
Scala compiler that ships among the Spark jars, then records a
class-data-sharing archive of the classes a short serve run loads, which
cuts a benchmark JVM's start-up and first Spark query from about 25 s to
10 s on a 4-core host.

    python3 perfbench/build.py          # from the repository root

The output lands in .bench_build/ and is reused while no source file
changed (a content hash of every input is kept beside it). No network, no
sbt: everything comes from $SPARK_HOME/jars, the unmanaged jar directory
build.sbt uses.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
STAMP = os.path.join(BUILD_DIR, "build.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
JARS_DIR = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


JAVA_OPTS = [
    "-XX:-UsePerfData", "-Xss4m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jars():
    if not os.path.isdir(JARS_DIR):
        raise SystemExit(f"build: Spark jar directory {JARS_DIR} not found")
    return sorted(os.path.join(JARS_DIR, j) for j in os.listdir(JARS_DIR)
                  if j.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {os.path.relpath(d)} missing "
                             "(run from the repository root)")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return os.pathsep.join([JAR] + jars())


def java_opts():
    """JVM options of a benchmark JVM (the archive, once it exists)."""
    return JAVA_OPTS + ([f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
                        if os.path.exists(ARCHIVE) else [])


def make_jar():
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, CLASSES))


def make_archive():
    """Runs the serve workload briefly with -XX:ArchiveClassesAtExit."""
    work = os.path.join(BUILD_DIR, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(BUILD_DIR, "train.log")
    cmd = (["java", "-Xms2g", "-Xmx2g"] + JAVA_OPTS +
           [f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath(), "perfbench.Main", "--mode", "train", "--cpus", str(nproc()),
            "--work", work, "--out", os.path.join(work, "train.json")])
    print("build: recording the class-data-sharing archive", file=sys.stderr)
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=f)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit(f"build: training run failed with exit code {r.returncode}, see {log}")


def build():
    """Compile if any source changed; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(JAR) and os.path.exists(ARCHIVE):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return classpath()
    for stale in (STAMP, JAR, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD_DIR}",
           "-cp", os.pathsep.join(jars()), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    make_jar()
    shutil.rmtree(CLASSES, ignore_errors=True)
    make_archive()
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return classpath()


if __name__ == "__main__":
    build()
