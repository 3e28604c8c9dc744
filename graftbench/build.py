#!/usr/bin/env python3
"""Build file of graftbench: compiles the engine (src/main/scala) and the
benchmark (graftbench/src) with the Scala compiler that ships among the
Spark jars, into a directory keyed by a hash of every input.

    python3 graftbench/build.py          # build (or reuse) and print the classpath

The Spark jar directory is the one the engine's own build.sbt names as
`unmanagedBase`; SPARK_HOME/jars is the fallback. Output goes under
$CARGO_TARGET_DIR (default .bench_build) at the repository root.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jar directory the engine is built against."""
    sbt = os.path.join(ROOT, "build.sbt")
    cands = []
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase, SPARK_HOME/jars)")


def java():
    jh = os.environ.get("JAVA_HOME")
    j = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not j or not os.path.exists(j):
        raise BuildError("no java executable (JAVA_HOME or PATH)")
    return j


def _sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not bench:
        raise BuildError("no benchmark sources under graftbench/src")
    res = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return engine, bench, res, resources


def _scalac(jars, out, classpath, srcs, log):
    os.makedirs(out, exist_ok=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}); see {log.name}")


def build():
    """Compile if needed; returns (run classpath as a list, build key)."""
    jars = spark_jars()
    engine, bench, res, resources = _sources()
    h = hashlib.sha256()
    for p in engine + bench + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    h.update(",".join(sorted(os.path.basename(p)
                             for p in glob.glob(os.path.join(jars, "*.jar")))).encode())
    key = h.hexdigest()[:16]
    base = os.path.join(build_root(), "graftbench")
    out = os.path.join(base, "classes-" + key)
    cp = [os.path.join(out, "bench"), os.path.join(out, "engine"), res,
          os.path.join(jars, "*")]
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "OK")):
            return cp, key
        for old in glob.glob(os.path.join(base, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.time()
        with open(os.path.join(base, "build.log"), "w") as log:
            _scalac(jars, os.path.join(out, "engine"), os.path.join(jars, "*"), engine, log)
            _scalac(jars, os.path.join(out, "bench"),
                    os.pathsep.join([os.path.join(out, "engine"), os.path.join(jars, "*")]),
                    bench, log)
        open(os.path.join(out, "OK"), "w").write(f"{time.time() - t0:.1f}\n")
        print(f"[graftbench] built {key} in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, key


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        print(f"[graftbench] build error: {e}", file=sys.stderr)
        sys.exit(2)
