#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) using the Scala compiler that ships in the Spark
distribution ($SPARK_HOME/jars), into .bench_build/classes-<hash>. The hash
covers every source file, so an unchanged tree is not recompiled.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return home


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError("library sources missing: %s" % LIB_SRC)
    out = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jar(jars, prefix):
    hits = [j for j in os.listdir(jars) if j.startswith(prefix) and j.endswith(".jar")]
    if len(hits) != 1:
        raise BuildError("expected one %s jar in %s" % (prefix, jars))
    return os.path.join(jars, hits[0])


def build(log=sys.stderr):
    """Compiles if needed; returns (classpath, source hash)."""
    jars = os.path.join(spark_home(), "jars")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes-" + digest)
    if not os.path.isdir(out):
        os.makedirs(BUILD, exist_ok=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(BUILD, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        compiler = os.pathsep.join(jar(jars, p) for p in
                                   ("scala-compiler-", "scala-library-", "scala-reflect-"))
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"),
               "@" + args_file]
        log.write("perfbench: compiling %d sources\n" % len(srcs))
        log.flush()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compile failed:\n" + r.stdout.decode(errors="replace")[-4000:])
        os.rename(tmp, out)
    cp = os.pathsep.join([out, LIB_RESOURCES, os.path.join(jars, "*")])
    return cp, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        sys.exit(2)
