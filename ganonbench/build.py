"""Build file of the benchmark: compiles ganonspark's sources together with
the benchmark harness into one jar, with the Scala compiler that ships
among the Spark jars. The build is skipped when a stamp over every source
file and jar name is unchanged. A rebuild drops the class-data-sharing
archive that runs create from the previous jar.

Usage: python3 ganonbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
BUILD_DIR = os.path.join(".bench_build", "ganonbench")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars of the
    first spark-submit on PATH that sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    raise SystemExit("no Spark jars found: set SPARK_HOME")


def sources(root):
    dirs = [os.path.join(root, PROGRAM_SOURCES),
            os.path.join(BENCH_DIR, "src", "main", "scala")]
    found = []
    for d in dirs:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for path in srcs:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def archive_path(root):
    """Class-data-sharing archive of the jar, made by the first run."""
    return os.path.join(root, BUILD_DIR, "ganonbench.jsa")


def ensure_built(root):
    """Return the jar of program + harness, compiling first if the sources
    changed."""
    if not os.path.isdir(os.path.join(root, PROGRAM_SOURCES)):
        raise SystemExit(f"program sources not found: {PROGRAM_SOURCES} "
                         "(run from the repository root)")
    jars = spark_jars()
    srcs = sources(root)
    key = stamp(srcs, jars)
    out = os.path.join(root, BUILD_DIR)
    jar = os.path.join(out, "ganonbench.jar")
    stamp_file = jar + ".stamp"
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == key:
                return jar
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"[ganonbench] compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("[ganonbench] compilation failed")
    with zipfile.ZipFile(jar + ".new", "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(dirpath, f)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    os.replace(jar + ".new", jar)
    if os.path.exists(archive_path(root)):
        os.remove(archive_path(root))
    with open(stamp_file, "w") as f:
        f.write(key + "\n")
    return jar


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
