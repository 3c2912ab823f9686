#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark harness (perfbench/scala) with the Scala compiler that ships
in the Spark distribution, so no sbt start-up is paid per run.

Output goes to .bench_build/ at the checkout root:
  classes-lib/    library classes, rebuilt when any library source changes
  classes-bench/  harness classes, rebuilt when the harness or library changes
  classes-*.jar   the same classes packed as jars, the runtime classpath

Usage: python3 perfbench/build.py        (from the checkout root)
Exit code 0 on success; a missing library source tree is an error.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def _spark_jars_dir():
    """The Spark distribution's jars: $SPARK_JARS_DIR, else $SPARK_HOME/jars,
    else the jars of the first distribution whose `spark-submit` is on PATH."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(exe))), "jars")
            if os.path.isdir(jars):
                return jars
    return "jars"


SPARK_JARS = _spark_jars_dir()
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


def _sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars directory {SPARK_JARS} not found")
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar"))


def _scalac(jars, classpath, dest, files):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("build: scala-compiler/library/reflect jars not found")
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = dest + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed for {dest}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def _stage(name, files, classpath, jars, extra=""):
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".stamp"
    stamp = _stamp(files, extra)
    if os.path.isdir(dest) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return stamp, False
    _scalac(jars, classpath, dest, files)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp, True


def build():
    """Compile what is stale; return the runtime classpath list."""
    lib = _sources(LIB_SRC)
    bench = _sources(BENCH_SRC)
    if not lib:
        raise SystemExit(f"build: no library sources under {LIB_SRC}")
    if not bench:
        raise SystemExit(f"build: no harness sources under {BENCH_SRC}")
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    lib_dir = os.path.join(OUT, "classes-lib")
    bench_dir = os.path.join(OUT, "classes-bench")
    lib_stamp, lib_new = _stage("classes-lib", lib, jars, jars)
    bench_stamp, bench_new = _stage("classes-bench", bench, [lib_dir] + jars, jars,
                                    extra=lib_stamp)
    if lib_new or bench_new:
        print(f"build: compiled {'library ' if lib_new else ''}"
              f"{'harness' if bench_new else ''}".strip(), file=sys.stderr)
    # The runtime classpath holds jars only: the JVM's class-data archive
    # (see run.py) cannot cover classes loaded from directories.
    out = []
    for d, stamp in ((bench_dir, bench_stamp), (lib_dir, lib_stamp)):
        jar = d + ".jar"
        if not os.path.exists(jar + ".stamp") or open(jar + ".stamp").read() != stamp:
            _jar(d, jar)
            with open(jar + ".stamp", "w") as fh:
                fh.write(stamp)
        out.append(jar)
    return out + jars


def _jar(src, jar):
    """Pack a classes directory into a jar, entries in sorted order."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(src):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, src))
    os.replace(tmp, jar)


if __name__ == "__main__":
    build()
