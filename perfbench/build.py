#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `perfbench/.build/<source hash>/perfbench.jar`.
A build whose source hash already has a complete output is reused.

Usage: python3 perfbench/build.py   (prints the jar's path)
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
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the engine's build.sbt
    names in its `unmanagedBase` setting."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark jar directory with a Scala compiler at '{jars}'")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise RuntimeError(f"no engine sources under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath(jar):
    """The jar, then Spark's jars in a fixed order."""
    return os.pathsep.join([jar] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def build():
    """Returns (build directory, source hash), compiling if needed."""
    files = sources()
    digest = source_hash(files)
    out = os.path.join(BUILD, digest)
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out, digest
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w") as jar:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(d, n)
                jar.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


if __name__ == "__main__":
    print(os.path.join(build()[0], "perfbench.jar"))
