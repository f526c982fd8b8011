"""Build file of the benchmark: compiles the engine's sources
(``src/main/scala``) together with the benchmark's driver
(``perfbench/src``) with the Scala compiler that ships in Spark's jar
directory, so no build tool or network is needed.

    python3 perfbench/build.py      # prints the runtime classpath

Output goes to ``.bench_build/classes-<digest>`` under the checkout,
keyed by a digest of every source file, so an unchanged tree is built
once and later runs reuse it.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCES = ("src/main/scala", "perfbench/src")
RESOURCES = "src/main/resources"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark 4 install whose "
                         "jars/ holds scala-compiler")
    return os.path.join(jars, "*")


def sources(root):
    out = []
    for d in SOURCES:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise BuildError("missing source directory " + d)
        for dirpath, _, names in os.walk(base):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "BUILD_OK")):
        for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        p = subprocess.run(
            ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", out, "-cp", jars, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            raise BuildError("scalac failed:\n" + p.stdout[-4000:])
        open(os.path.join(out, "BUILD_OK"), "w").close()
    return os.pathsep.join([out, os.path.join(root, RESOURCES), jars])


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(str(e))
