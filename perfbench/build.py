#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program under test
(`src/main/scala`) and the harness (`perfbench/scala`) into `.bench_build/`
with the Scala compiler that ships among the Spark jars: `$SPARK_HOME/jars`,
else the jar directory the sbt build uses (`unmanagedBase` in build.sbt).

Each part is rebuilt only when a hash of its sources changes. Run from the
repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = "src/main/scala"
HARNESS_SRC = "perfbench/scala"


class BuildError(Exception):
    pass


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {root}/ (run from the repository root)")
    return files


def fingerprint(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def spark_classpath():
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def compile_part(name, files, classpath, upstream=""):
    """Compiles `files` into BUILD_DIR/name unless its stamp is current."""
    out = os.path.join(BUILD_DIR, name)
    stamp = os.path.join(out, ".fingerprint")
    fp = fingerprint(files, upstream)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == fp:
                return out, fp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + files
    print(f"[perfbench] compiling {name}: {len(files)} files", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{res.stdout[-4000:]}")
    with open(os.path.join(tmp, ".fingerprint"), "w") as fh:
        fh.write(fp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, fp


def build():
    """Returns (runtime classpath, program source fingerprint)."""
    spark_cp = spark_classpath()
    program, program_fp = compile_part("program", sources(PROGRAM_SRC), spark_cp)
    harness, _ = compile_part("harness", sources(HARNESS_SRC),
                              os.pathsep.join([program, spark_cp]), upstream=program_fp)
    return os.pathsep.join([harness, program, spark_cp]), program_fp


if __name__ == "__main__":
    try:
        cp, fp = build()
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
    print(cp)
