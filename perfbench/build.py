#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program under test (``src/main/scala`` at the repository root)
and then the harness (``perfbench/src``) with the Scala compiler that ships
inside the Spark distribution, so no build tool and no network are needed.
Outputs land in ``.bench_build`` (or ``$CARGO_TARGET_DIR`` when set) at the
repository root; a stamp of the source contents skips unchanged builds.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    tool = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "scala-*.jar"))))
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", tool,
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"build: compiling {out} failed")


def build():
    """Compile what changed; return the runtime classpath."""
    jars = spark_jars()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    prog_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not prog_src or not bench_src:
        raise SystemExit("build: program or harness sources are missing")
    prog_out = os.path.join(out, "program")
    bench_out = os.path.join(out, "harness")
    spark_cp = os.path.join(jars, "*")
    steps = [
        (prog_out, spark_cp, prog_src),
        (bench_out, os.pathsep.join([prog_out, spark_cp]), bench_src),
    ]
    for dest, cp, files in steps:
        key = stamp(files)
        mark = dest + ".stamp"
        if os.path.exists(mark) and open(mark).read() == key:
            continue
        if os.path.exists(mark):
            os.remove(mark)
        shutil.rmtree(dest, ignore_errors=True)
        scalac(jars, cp, dest, files)
        with open(mark, "w") as fh:
            fh.write(key)
        # a rebuilt program invalidates the harness compiled against it
        if dest == prog_out and os.path.exists(bench_out + ".stamp"):
            os.remove(bench_out + ".stamp")
    return os.pathsep.join([bench_out, prog_out, spark_cp])


if __name__ == "__main__":
    print(build())
