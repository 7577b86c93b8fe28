#!/usr/bin/env python3
"""Build file of the selector benchmark.

Compiles the library (src/main/scala) and the benchmark's own Scala sources
(selbench/src) with the Scala compiler that ships in the Spark distribution,
into .bench_build/selbench/ under the checkout root. Each half is keyed by a
hash of its sources, so an unchanged tree is not compiled twice.

    python3 selbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "selbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def _sources(src_dir):
    out = []
    for base, _, files in os.walk(src_dir):
        out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def _stamp(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile(name, sources, classpath, stamp):
    """Returns (output dir, whether it had to be compiled)."""
    out = os.path.join(BUILD, f"{name}-{stamp}")
    if os.path.isdir(out):
        return out, False
    for old in glob.glob(os.path.join(BUILD, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD, f"{name}.args")
    with open(args, "w") as f:
        f.write("\n".join(sources) + "\n")
    scala = [j for j in spark_jars() if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    cmd = ["java", "-Xss8m", "-Xmx2g",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath), "@" + args]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"{name} compile failed:\n{proc.stdout[-4000:]}")
    os.rename(tmp, out)
    return out, True


def build():
    """Compiles what is stale. Returns (runtime classpath, whether anything
    was compiled)."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    lib = _sources(lib_src)
    bench = _sources(os.path.join(HERE, "src"))
    if not lib:
        raise BuildError(f"no library sources under {lib_src}")
    if not bench:
        raise BuildError("no benchmark sources under selbench/src")
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    lib_stamp = _stamp(lib)
    lib_out, lib_new = _compile("program", lib, jars, lib_stamp)
    bench_out, bench_new = _compile("bench", bench, jars + [lib_out],
                                    _stamp(bench, salt=lib_stamp))
    return [bench_out, lib_out] + jars, lib_new or bench_new


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
