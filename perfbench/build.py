"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, into `<build>/classes`. A stamp of the source
contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """`$SPARK_HOME/jars/*`, else the jars of the first Spark distribution
    whose `bin/spark-submit` is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars", "*")
    sys.exit("no Spark distribution found; set SPARK_HOME")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))


def classpath(out):
    return os.pathsep.join([os.path.join(out, "classes"), RESOURCES, spark_jars()])


def build(out=None):
    """Compile if the sources changed; return the run-time classpath."""
    out = out or build_dir()
    files = sorted(f for d in SOURCES for f in glob.glob(os.path.join(d, "**", "*.scala"),
                                                         recursive=True))
    if not any(f.startswith(SOURCES[0]) for f in files):
        sys.exit(f"no program sources under {SOURCES[0]}")
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, classes = os.path.join(out, "classes.stamp"), os.path.join(out, "classes")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                return classpath(out)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", spark_jars(), "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classpath(out)


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None))
