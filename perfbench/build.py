"""Builds the engine and the benchmark's JVM program from source.

The engine (`src/main/scala`, `src/main/resources` of the checkout) and the
benchmark program (`perfbench/src`) are compiled together, in one scalac invocation,
with the Scala compiler that ships in the Spark distribution's `jars`
directory -- the same jars the engine's sbt build compiles against. The
classes land in `.bench_build/classes` and are packed into
`.bench_build/perfbench.jar` (the JVM's class-data archive, `ARCHIVE`, takes
jars only); a content hash of every source decides whether an existing build
is reused.

Run directly (`python3 perfbench/build.py`) to build without benchmarking.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
# made by run.py from a training run of this build; deleted by every rebuild
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")

# what spark-submit would pass on JDK 17 (as in the engine's build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the engine build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def _sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return engine + bench, resources


def build(log=sys.stderr):
    """Compiles if any source changed; returns the classpath to run with."""
    sources, resources = _sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in sources + resources:
        digest.update(os.path.relpath(p, ROOT).encode())
        digest.update(open(p, "rb").read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    classpath = JAR + os.pathsep + os.path.join(jars, "*")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(JAR)):
        return classpath
    for stale in (JAR, ARCHIVE, ARCHIVE + ".failed"):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*")]
                          + sources))
    print(f"[perfbench] compiling {len(sources)} sources", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for p in resources:
        dst = os.path.join(CLASSES, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with zipfile.ZipFile(JAR + ".tmp", "w") as jar:
        for d, _, files in sorted(os.walk(CLASSES)):
            for name in sorted(files):
                path = os.path.join(d, name)
                jar.write(path, os.path.relpath(path, CLASSES))
    os.replace(JAR + ".tmp", JAR)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
