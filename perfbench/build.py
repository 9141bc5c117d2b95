"""Build file of the benchmark: compiles the program's main sources and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, and copies the program's resources, into .bench_build/ of the
checkout. A stamp of the source bytes skips the compile when nothing
changed.

  python3 perfbench/build.py        # build (or confirm the build is current)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
CLASSES = os.path.join(BUILD, "classes")


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(SPARK_JARS, "*")])


def _sources():
    srcs = sorted(glob.glob(f"{PROGRAM_SRC}/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit(f"build: no program sources under {PROGRAM_SRC}")
    bench = sorted(glob.glob(f"{BENCH_SRC}/**/*.scala", recursive=True))
    if not bench:
        raise SystemExit(f"build: no harness sources under {BENCH_SRC}")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler*.jar")):
        raise SystemExit(f"build: no Scala compiler in {SPARK_JARS}")
    res = sorted(glob.glob(f"{PROGRAM_RES}/**/*", recursive=True))
    return srcs + bench, [r for r in res if os.path.isfile(r)]


def build(log=sys.stderr):
    """Compile when the sources changed; returns the run classpath."""
    os.makedirs(BUILD, exist_ok=True)
    srcs, resources = _sources()
    h = hashlib.sha256()
    for s in srcs + resources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(SPARK_JARS, "*"), "-d", CLASSES, "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("build: compile failed")
    for r in resources:
        dst = os.path.join(CLASSES, os.path.relpath(r, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(build())
