"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in the Spark
distribution's jars, into .bench_build/perfbench/classes.

    python3 perfbench/build.py          # from the repository root

A build is skipped when the sources, the compiler command and the Spark
jars it compiles against are unchanged since the last one (stamp file).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt
    declares as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars at '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}; "
                         "run from the repository root")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + harness


def classpath():
    """Runtime classpath: compiled classes, the engine's resources, Spark."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def compiler_cmd(srcs, dest):
    jars = spark_jars()
    scala = [os.path.join(jars, f"scala-{p}-2.13.17.jar")
             for p in ("compiler", "library", "reflect")]
    for j in scala:
        if not os.path.exists(j):
            raise SystemExit(f"build: missing {j}")
    return (["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(scala),
             "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
             "-classpath", os.path.join(jars, "*"), "-d", dest] + srcs)


def stamp_of(srcs):
    h = hashlib.sha256()
    h.update(" ".join(compiler_cmd([], "")).encode())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    srcs = sources()
    stamp = stamp_of(srcs)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(compiler_cmd(srcs, tmp), stdout=log, stderr=log, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
