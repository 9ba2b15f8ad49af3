"""Build step of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/src`) into
`<build>/classes` with the Scala compiler that ships in Spark's jar dir.

The Spark jar dir is the one the repository's `build.sbt` names as its
`unmanagedBase`, or `$SPARK_HOME/jars`. A build is reused while the
content hash of every compiled source is unchanged.

Run standalone: python3 perfbench/build.py
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")

# JDK 17 module opens the program's sessions need (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jar dir build.sbt compiles against, else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark jar dir found (build.sbt unmanagedBase or $SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {os.path.relpath(PROGRAM_SRC, ROOT)}")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def classpath(jars):
    return os.pathsep.join([os.path.join(build_dir(), "classes"), os.path.join(jars, "*")])


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath(jars)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    scalac = [os.path.join(jars, n) for n in os.listdir(jars)
              if re.match(r"scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$", n)]
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(scalac),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
