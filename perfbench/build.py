"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
harness (`perfbench/scala`) with the Scala compiler that ships in Spark's
jar directory, into `.bench_build/perfbench/classes`.

A stamp of every source file's path and content skips the compile when
nothing changed. Spark's jars come from `$SPARK_HOME/jars`, or else from the
directory `build.sbt` names as `unmanagedBase` -- the jars the program is
built against; nothing is downloaded.

    python3 perfbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return CLASSES
    cp = os.path.join(spark_jars(), "*")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
