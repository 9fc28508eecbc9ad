"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's JVM side into one class directory, with the Scala compiler that
ships among the Spark jars the engine builds against.

The Spark jar directory is the one the engine's own build.sbt names
(`unmanagedBase`), or `$SPARK_HOME/jars`. The output is keyed by a hash of
every source file, so an unchanged tree is compiled once per checkout.

    python3 perfbench/build.py      # prints the class directory
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory with a Scala compiler "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("engine sources not found under %s" % main)
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Return the class directory, compiling first if the sources changed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    # class directories of earlier source trees
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(str(e))
