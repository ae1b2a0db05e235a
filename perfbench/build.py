#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine's main sources (src/main/scala) together with the
harness (perfbench/harness) into one class directory with the Scala
compiler that ships in the Spark jars, so no build tool or network is
needed. The output directory is keyed by a hash of every source file and
reused while the sources are unchanged.

Usage:
  python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark jar directory: the build's `unmanagedBase`, else
    $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark/Scala jars under {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    return main + own


def build_dir():
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return out if os.path.isabs(out) else os.path.join(ROOT, out)


def build(log=sys.stderr):
    """Compile if needed; returns (class dir, source hash)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir(), f"classes-{key}")
    if os.path.exists(os.path.join(out, "_BUILD_OK")):
        return out, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources -> {out}", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    os.remove(argfile)
    open(os.path.join(tmp, "_BUILD_OK"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, key


if __name__ == "__main__":
    print(build()[0])
