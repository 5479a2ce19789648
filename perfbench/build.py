#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources (src/main/scala)
together with the benchmark sources (perfbench/src) into perfbench/target.

The compiler is the Scala compiler that ships with Spark's jars, so the build
needs no build tool and no network. The repository's own build.sbt is not
used or changed. The classes and the library's resources are packed into one
jar. A stamp over every input skips the compilation when nothing changed.

After compiling, the build runs the openeo_jobs workload once at the smoke
size with -XX:ArchiveClassesAtExit, which dumps the classes it loads into a
class-data-sharing archive. Every run of every workload maps that archive,
which cuts JVM start and class loading. The build fails when the archive is
not created.

Usage: python3 perfbench/build.py      (prints the runtime classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")
JAR = os.path.join(TARGET, "perfbench.jar")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("openeo_jobs", "curation")
# The workload whose smoke run dumps the archive: it loads the widest set of
# classes (Spark SQL, MLlib, raster and index code).
ARCHIVE_WORKLOAD = "openeo_jobs"
SCALA = "2.13.17"
HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars():
    """The jars of the Spark installation at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not home or not jars:
        raise SystemExit("build: no Spark jars under $SPARK_HOME/jars")
    return jars


def sources():
    lib = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        raise SystemExit(f"build: library sources not found under {lib}")
    files = glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def resources():
    base = os.path.join(REPO, "src", "main", "resources")
    return sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def clean_env():
    """The environment of every benchmark JVM: the benchmark pins its own
    settings, so none of the library's or Spark's variables apply."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("GRAFT_") and not k.startswith("SPARK_")}


def classpath():
    """Runtime classpath: the benchmark jar, then Spark's jars."""
    return [JAR] + spark_jars()


def main_cmd(jvm_flags, work, args):
    """The JVM command of one benchmark run: Spark's JDK 17 module openings,
    a fixed heap, no perf-data file, all scratch files under `work`, then
    graftbench.Main with `args`."""
    flags = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + flags + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={work}/tmp"] + jvm_flags + [
                                "-cp", os.pathsep.join(classpath()), "graftbench.Main"] +
            args + ["--root", work, "--oracle-out", f"{work}/oracle"])


def package():
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(glob.glob(os.path.join(CLASSES, "**", "*.class"), recursive=True)):
            z.write(f, os.path.relpath(f, CLASSES))
        for f in resources():
            z.write(f, os.path.relpath(f, os.path.join(REPO, "src", "main", "resources")))


def dump_archive(log):
    work = os.path.join(TARGET, "dump")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    print("[perfbench] dumping the class-data-sharing archive", file=log, flush=True)
    r = subprocess.run(
        main_cmd([f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds*=error"], work,
                 ["--workload", ARCHIVE_WORKLOAD, "--seed", "1", "--seconds", "1",
                  "--trace", "0", "--size", "smoke"]),
        cwd=work, env=clean_env(), stdout=log, stderr=log)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        raise SystemExit("build: the class-data-sharing archive was not created")


def compile_sources(log):
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs + resources() + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
        f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"build: Scala {SCALA} compiler jars not among the Spark jars")
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
         "-classpath", os.pathsep.join(jars)] + srcs,
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("build: compilation failed")
    package()
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def build(log=sys.stderr):
    """Compile when an input changed, and dump the archive when it is
    missing. Returns the runtime classpath."""
    compile_sources(log)
    if not os.path.exists(ARCHIVE):
        dump_archive(log)
    return classpath()


if __name__ == "__main__":
    print(os.pathsep.join(build()))
