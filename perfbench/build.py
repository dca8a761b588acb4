#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together
with the benchmark's own sources (perfbench/src) with the Scala compiler
that ships in Spark's jar directory, into <build>/classes.

Usage: python3 perfbench/build.py   (from the repository root)

<build> is $CARGO_TARGET_DIR if set, else .bench_build. A build is
skipped when no source changed since the last one (a stamp over every
source's path, size and mtime).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the
    engine's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
    except OSError:
        m = None
    if not m:
        sys.exit("perfbench: set SPARK_HOME")
    return m.group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        sys.exit("perfbench: no engine sources under src/main/scala")
    return main + own


def build():
    """Compiles if needed; returns the JVM options the engine requires."""
    out = build_dir()
    srcs = sources()
    res = os.path.join(ROOT, "src/main/resources")
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(res, "**/*"), recursive=True)):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
    stamp = os.path.join(out, "stamp")
    opens = os.path.join(out, "jvm_opens.txt")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return open(opens).read().split()
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(out, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args],
                   check=True, stdout=sys.stderr)
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(out, "classes"))
    # Spark's own list of JDK module opens, printed by the engine
    o = subprocess.run(["java", "-cp", classpath(), "graft.JvmOpens"], check=True,
                       capture_output=True, text=True).stdout
    with open(opens, "w") as f:
        f.write(o)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return o.split()


if __name__ == "__main__":
    build()
