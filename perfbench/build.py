"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (`src/main/scala` at the repository root) and the
benchmark's JVM sources (`perfbench/scala`) are compiled together with the
Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars), into
`perfbench/work/app.jar`. The output is reused while no source file changed
(keyed by a hash of every source file), so only the first run in a checkout
pays for the build.

    python3 perfbench/build.py      # prints the jar path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("build: SPARK_HOME/jars with the Scala compiler is required")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit(f"build: program sources missing under {PROGRAM_SRC}")
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if needed; return the jar of the compiled classes."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classes.sha256")
    jar = os.path.join(WORK, "app.jar")
    if os.path.isfile(jar) and open(stamp).read() == h.hexdigest():
        return jar
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed ({r.returncode})")
    # one jar of the classes, put on the client's classpath beside Spark's
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(jar + ".tmp", jar)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar


if __name__ == "__main__":
    print(build())
