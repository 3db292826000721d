"""Build file of the benchmark package: compiles the program's main sources
(`src/main/scala` at the repository root) together with the benchmark's own
Scala code (`perfbench/src`) into `.bench_build/classes`, with the Scala
compiler that ships among the Spark jars. A stamp of every source file's
bytes skips the build when nothing changed.

    python3 perfbench/build.py      # build (or confirm up to date)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with an installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def ensure():
    """Return the classes directory, compiling first when sources changed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise BuildError("compile failed:\n" + (p.stdout + p.stderr)[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
