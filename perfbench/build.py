"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM half (`perfbench/scala`) with the Scala compiler that
ships in the Spark distribution's jars, into `.bench_build/` of the
checkout.

A build is keyed by a hash of every source file, so a run reuses the
classes of an earlier run of the same tree and rebuilds after any change.

Usage: python3 perfbench/build.py      (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the
    `unmanagedBase` directory the repository's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("set SPARK_HOME to a Spark distribution")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    return main + bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def build():
    """Compile if needed; return the classes directory."""
    files = sources()
    out = os.path.join(ROOT, ".bench_build", "perfbench", source_hash(files))
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(
        f"{jars}/scala-{m}-{SCALA_VERSION}.jar"
        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", f"{jars}/*"] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        raise BuildError(f"scalac failed with exit code {p.returncode}")
    open(os.path.join(out, "OK"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
