"""Build file of the benchmark: compiles graft and the benchmark runner.

graft's sources (`src/main/scala`) and the runner (`perfbench/scala`) are
compiled with the Scala compiler that ships in the Spark distribution the
project builds against (`unmanagedBase` in `build.sbt`). Nothing is
resolved or downloaded, and everything is written under `.bench_build/`.
Each output directory is keyed by a hash of its sources, so an unchanged
tree is compiled once.

    python3 perfbench/build.py      # prints the runtime classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory `build.sbt` compiles against, else `$SPARK_HOME/jars`."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def _sources(d):
    files = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {d}")
    return files


def _key(files, *extra):
    h = hashlib.sha256()
    for e in extra:
        h.update(e.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(name, files, classpath, root, jars):
    """Compile `files` into `.bench_build/<name>-<hash>`, reusing it if present."""
    key = _key(files, *classpath)
    out = os.path.join(root, BUILD_DIR, f"{name}-{key}")
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(root, BUILD_DIR, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    javatmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(javatmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={javatmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", os.pathsep.join(classpath)] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")
    os.rename(tmp, out)
    return out


def build(root):
    """Compile graft and the runner; return the runtime classpath."""
    jars = spark_jars(root)
    jar_cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    graft = _compile("graft", _sources(os.path.join(root, "src", "main", "scala")), jar_cp, root, jars)
    bench = _compile("perfbench", _sources(os.path.join(HERE, "scala")), jar_cp + [graft], root, jars)
    return [bench, graft] + jar_cp


def java_cmd(classpath, heap, tmpdir):
    """The java command line a benchmark JVM runs with."""
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the heap is touched up front, so peak RSS varies only with what
    # lies outside the fixed heap (code cache, metaspace, native buffers)
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens + [
            "-cp", os.pathsep.join(classpath)]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(os.getcwd())))
    except BuildError as e:
        sys.exit(f"build: {e}")
