"""Builds the program and the benchmark's JVM side from source.

The repository's own build (build.sbt) compiles src/main/scala against
the jars of the Spark installation. This build does the same with the
Scala compiler that ships among those jars, so it needs neither sbt nor
a network: every source under src/main/scala plus perfbench/src is
compiled into .bench_build/perfbench/classes. A stamp over the sources
and the jar list skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of the repository)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

OUT = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")

# Keeps the JVM from writing its perf-data file outside the checkout.
NO_PERF_DATA = "-XX:-UsePerfData"

# JDK 17 module opens Spark needs outside spark-submit; the same list as
# `jdk17AddOpens` in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars() -> str:
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in candidates:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return os.path.abspath(d)
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources(root: str) -> list:
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(root, "perfbench", "src", "*.scala")))
    if not main:
        raise BuildError("no program sources under src/main/scala: run from the root of a checkout")
    if not own:
        raise BuildError("no benchmark sources under perfbench/src")
    return main + own


def resources(root: str) -> list:
    base = os.path.join(root, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def stamp(root: str, jars: str) -> str:
    h = hashlib.sha256()
    for p in sources(root) + resources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath(root: str) -> str:
    return os.pathsep.join([os.path.join(root, CLASSES), os.path.join(spark_jars(), "*")])


def ensure(root: str, log=sys.stderr) -> float:
    """Compiles if the sources changed since the last build; returns the
    seconds spent (0 when the build was current)."""
    jars = spark_jars()
    want = stamp(root, jars)
    stamp_file = os.path.join(root, CLASSES, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return 0.0
    t0 = time.time()
    tmp = os.path.join(root, OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    srcs = sources(root)
    cmd = [java(), NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    base = os.path.join(root, "src", "main", "resources")
    for p in resources(root):
        dst = os.path.join(tmp, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(os.path.join(root, CLASSES), ignore_errors=True)
    os.rename(tmp, os.path.join(root, CLASSES))
    return time.time() - t0


if __name__ == "__main__":
    try:
        secs = ensure(os.getcwd())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"perfbench: build {'took %.1f s' % secs if secs else 'is current'}")
