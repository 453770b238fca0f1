#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and then the benchmark's own
code (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution, straight into `.bench_build/` of the checkout, and packs
each into a jar. No sbt, no dependency resolution, nothing written
outside the checkout.

The build ends with one training run (a `query_mix` run) that dumps the
classes it loaded into a JVM class-data-sharing archive
(`.bench_build/app.jsa`). Benchmark runs map that archive instead of
loading and verifying Spark's classes again, which takes several seconds
off every JVM start; results are unaffected, and a run without the
archive is only slower to start.

A build is skipped when a stamp of every source file's path and content
matches the stamp of the last successful build.

    python3 perfbench/build.py          # build (or confirm up to date)
    python3 perfbench/build.py --force  # rebuild from scratch
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
PROGRAM_CLASSES = os.path.join(OUT, "program-classes")
BENCH_CLASSES = os.path.join(OUT, "perfbench-classes")
PROGRAM_JAR = os.path.join(OUT, "program.jar")
BENCH_JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "app.jsa")
STAMP = os.path.join(OUT, "build.stamp")
CORES = 4

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution with a Scala
    compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler "
                     "(set SPARK_HOME)")


def scala_files(top):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(srcs, dest, classpath):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def jar(classes, dest):
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(tmp, dest)


def classpath():
    """Runtime classpath: benchmark, program, Spark; jars only, listed
    one by one, as class-data sharing requires."""
    jars = spark_jars()
    return os.pathsep.join([BENCH_JAR, PROGRAM_JAR] + [
        os.path.join(jars, n) for n in sorted(os.listdir(jars)) if n.endswith(".jar")])


def java_cmd(work, args, archive_flag=None):
    """The JVM command of a benchmark run; `work` is its scratch dir."""
    if archive_flag is None:
        archive_flag = (f"-XX:SharedArchiveFile={ARCHIVE}"
                        if os.path.isfile(ARCHIVE) else "-Xshare:auto")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = min(CORES, os.cpu_count() or CORES)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout;
    # -Xms = -Xmx: no heap resizing, whose timing varies from run to run
    return (["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", archive_flag] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", classpath(), "perfbench.Main",
             "--cores", str(cores), "--work", work,
             "--expected", os.path.join(HERE, "expected.tsv"),
             "--traces", os.path.join(OUT, "traces")] + args)


def train():
    """Dump the class-data-sharing archive from one training run."""
    work = os.path.join(OUT, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    try:
        subprocess.run(java_cmd(work, ["--workload", "train", "--seed", "0",
                                       "--seconds", "0", "--trace", "1"],
                                f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                       check=True, stdout=sys.stderr, timeout=400)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(force=False):
    program = scala_files(PROGRAM_SRC)
    bench = scala_files(BENCH_SRC)
    if not program:
        raise SystemExit(f"build: no program sources under {PROGRAM_SRC}")
    if not bench:
        raise SystemExit(f"build: no benchmark sources under {BENCH_SRC}")
    stamp = stamp_of(program + bench)
    if not force and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return classpath()
    os.makedirs(OUT, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    jars = os.path.join(spark_jars(), "*")
    print(f"build: compiling {len(program)} program sources", file=sys.stderr)
    scalac(program, PROGRAM_CLASSES, jars)
    print(f"build: compiling {len(bench)} benchmark sources", file=sys.stderr)
    scalac(bench, BENCH_CLASSES, os.pathsep.join([PROGRAM_CLASSES, jars]))
    jar(PROGRAM_CLASSES, PROGRAM_JAR)
    jar(BENCH_CLASSES, BENCH_JAR)
    print("build: training run for the class-data-sharing archive", file=sys.stderr)
    train()
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        build(force="--force" in sys.argv[1:])
    except subprocess.CalledProcessError as e:
        raise SystemExit(f"build: compiler failed ({e.returncode})")
