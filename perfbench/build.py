"""Build step of the benchmark: compiles graft's main sources together with
the harness in perfbench/src into one class directory, with the Scala
compiler that ships among Spark's jars. The output is keyed by a hash of
every compiled source, so a checkout builds once and later runs reuse it.

Run on its own to build without running a workload:

    python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys

GRAFT_SOURCES = os.path.join("src", "main", "scala")
HARNESS_SOURCES = os.path.join("perfbench", "src")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# root build.sbt, from org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the image's Spark (the
    same directory the root build.sbt uses as its unmanaged base)."""
    home = os.environ.get("SPARK_HOME")
    for d in ([os.path.join(home, "jars")] if home else []) + ["/opt/spark/jars"]:
        if os.path.isdir(d):
            return d
    raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")


def build_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, base, "perfbench")


def _sources(root):
    files = []
    for top in (GRAFT_SOURCES, HARNESS_SOURCES):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def ensure_built(root, out_dir):
    """Compile unless a build of exactly these sources exists; return the
    class directory."""
    sources = _sources(root)
    h = hashlib.sha256()
    for f in sources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(out_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    staging = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
    # the javac-style @argfile keeps the command line short
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", staging, "@" + argfile]
    subprocess.run(cmd, check=True)
    os.remove(argfile)
    try:
        os.replace(staging, classes)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(staging, ignore_errors=True)
    # one build per checkout is enough: drop finished builds of older sources
    for old in os.listdir(out_dir):
        path = os.path.join(out_dir, old)
        if old.startswith("classes-") and ".tmp" not in old and path != classes:
            shutil.rmtree(path, ignore_errors=True)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(ensure_built(root, build_dir(root)))
