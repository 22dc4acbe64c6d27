"""Build file of the day-load benchmark.

Compiles the loader's sources (`src/main/scala` at the repository root)
together with the benchmark's own sources (`loadbench/src`) against the
Spark distribution's jars, with the Scala compiler that ships in them.
Output goes to `.bench_build/classes`; a stamp of every source's path,
size and content hash makes a repeated build a no-op.

    python3 loadbench/build.py      # build, print the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else
    the one beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars directory at {jars}")
    return jars


def classpath(extra=()):
    return os.pathsep.join(list(extra) + [os.path.join(spark_jars(), "*")])


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found: {PROGRAM_SRC}")
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Compile if the sources changed since the last build; return the
    classes directory."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", classpath(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
