#!/usr/bin/env python3
"""Build file of the vector-core benchmark.

Compiles the program (src/main/scala, src/main/java) together with the
benchmark sources (perfbench/src) into .bench_build/classes, using the
Scala compiler and the jars that ship with Spark under $SPARK_HOME/jars
(SPARK_HOME defaults to the install that holds spark-submit on PATH).
A stamp of the source contents skips the build when nothing changed.

Run from anywhere:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: set SPARK_HOME to a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def java_tool(name):
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", name) if home else name


def sources():
    found = []
    for pattern in ("src/main/scala/**/*.scala", "src/main/java/**/*.java", "perfbench/src/**/*.scala"):
        found += sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))
    if not any(f.endswith(".java") for f in found) or not any("/src/main/scala/" in f for f in found):
        raise SystemExit("build: program sources (src/main/scala, src/main/java) not found")
    return found


def stamp_of(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Return the classes directory, compiling first if the sources changed."""
    files = sources()
    jars = spark_jars()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for m in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, "scala-%s-2.13.*.jar" % m))]
    classpath = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    java_files = [f for f in files if f.endswith(".java")]
    # scalac reads the Java sources for their signatures; javac compiles them
    steps = [
        [java_tool("java"), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-encoding", "UTF-8", "-classpath", classpath, "-d", CLASSES] + files,
        [java_tool("javac"), "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8", "--add-modules", "jdk.incubator.vector",
         "-cp", CLASSES + os.pathsep + classpath, "-d", CLASSES] + java_files,
    ]
    for cmd in steps:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("build: %s failed (exit %d)" % (os.path.basename(cmd[0]), r.returncode))
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
