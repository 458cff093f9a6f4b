#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/classes, with the
Scala compiler that ships among Spark's jars ($SPARK_HOME/jars, or beside a
spark-submit on the PATH). A stamp of the sources' content skips the compile
when nothing changed.

Usage: python3 perfbench/build.py      (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if list(jars.glob("spark-sql_*.jar")) and list(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jars with a Scala compiler under $SPARK_HOME "
                     "or beside a spark-submit on the PATH")


def sources() -> list:
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        raise BuildError("no library sources under src/main/scala")
    return lib + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> Path:
    """Returns the classes directory, compiling first if the sources moved."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    digest.update(",".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = digest.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           "@" + str(argfile)]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
