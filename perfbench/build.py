#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark's own Scala sources (perfbench/src) into one jar under
.bench_build/, with the Scala compiler that ships in the Spark distribution
(no sbt, no network). The first benchmark run after a build records a
class-data-sharing archive of the classes it loaded (`cds_flag`); every
later run maps Spark's classes from it instead of loading and verifying them
again, which takes ~14 s off each run's set-up.

    python3 perfbench/build.py            # build if the sources changed

The output is keyed by a hash of every source file, so an unchanged tree is
not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "classes.jsa")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the distribution of
    a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found "
                     "(set SPARK_HOME)")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files
                      if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(jars, work, args, cds):
    """The benchmark JVM: local-mode Spark with every scratch path under
    `work` (no hsperfdata file in the system temp dir); JVM and Spark
    warnings go to stderr, so stdout ends with the result line. The heap is
    fixed and collected by the stop-the-world parallel collector, so no
    concurrent GC threads compete with the task threads for the cores
    and the heap does not resize during a run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", cds,
            "-Xlog:disable", "-Xlog:all=warning:stderr", *opens,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join([JAR, os.path.join(jars, "*")]),
            "perfbench.Main", *args,
            "--work", work, "--heap", HEAP,
            "--traces", os.path.join(ROOT, ".bench_build", "traces"),
            "--launched-ms", str(int(time.time() * 1000))]


def compile_jar(srcs, jars):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr,
          flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def cds_flag():
    """Use the archive when it exists; otherwise this run records it."""
    if os.path.isfile(CDS):
        return f"-XX:SharedArchiveFile={CDS}"
    return f"-XX:ArchiveClassesAtExit={CDS}"


def ensure_built():
    """Returns the Spark jar dir; builds when the source stamp differs."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found;"
                         " run from the root of a source checkout")
    jars = spark_jars()
    srcs = sources()
    key = stamp(srcs, jars)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == key:
                return jars
    os.makedirs(OUT, exist_ok=True)
    for p in (stamp_file, CDS, JAR):
        if os.path.exists(p):
            os.remove(p)
    compile_jar(srcs, jars)
    with open(stamp_file, "w") as f:
        f.write(key)
    return jars


if __name__ == "__main__":
    ensure_built()
    print(JAR)
