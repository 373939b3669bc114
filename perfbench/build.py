"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) into `.bench_build/classes` with the Scala compiler that
ships in the Spark distribution's jar directory, so a build needs neither
sbt nor network access. A digest of every source file is kept beside the
classes; a checkout whose sources did not change is not rebuilt.

    python3 perfbench/build.py        # build if needed, print the classes dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha1")


def spark_jars() -> str:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources() -> list:
    found = []
    for base in ("src/main/scala", "perfbench/src/main/scala"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def digest(files: list) -> str:
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def compiler_classpath(jars: str) -> str:
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not hits:
            raise RuntimeError(f"no {name} jar in {jars}")
        parts.append(hits[-1])
    return os.pathsep.join(parts)


def ensure_built(log=sys.stderr) -> str:
    """Returns the classes directory, compiling first when sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("program sources (src/main/scala) are missing")
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES
    jars = spark_jars()
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(BUILD_DIR, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", compiler_classpath(jars), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", staging, "@" + args_file]
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=log)
        raise RuntimeError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure_built())
    except RuntimeError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
