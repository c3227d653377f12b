#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala` of the checkout) and the benchmark
harness (`hbench/src`) with the Scala 2.13 compiler that ships in Spark's
jar directory, into `.bench_build/hbench/` of the checkout. Each step is
skipped when a content hash of its inputs matches the last build.

    python3 hbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "hbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable found (set JAVA_HOME)")
    return exe


def sources(root, exts):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_step(name, srcs, classpath, stamp):
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest
    if not srcs:
        raise BuildError(f"no Scala sources for {name}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-cp", classpath, "-d", dest, "@" + argfile]
    print(f"hbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return dest


def build():
    """Compile what is stale; return the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    prog_srcs = sources(PROGRAM_SRC, (".scala",))
    prog = compile_step("program", prog_srcs, jars, digest(prog_srcs))
    if os.path.isdir(PROGRAM_RES):
        shutil.copytree(PROGRAM_RES, prog, dirs_exist_ok=True)
    harness_srcs = sources(HARNESS_SRC, (".scala",))
    harness = compile_step("harness", harness_srcs, os.pathsep.join([prog, jars]),
                           digest(harness_srcs, open(prog + ".stamp").read()))
    return os.pathsep.join([harness, prog, jars])


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"hbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
