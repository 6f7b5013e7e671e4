#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) into .bench_build/e2ebench/engine-classes, then the
benchmark's own (e2ebench/src) against them into bench-classes, with the
Scala compiler that ships in the Spark jar directory. A content hash of
each tree's sources skips its compile when nothing changed.

    python3 e2ebench/build.py            # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(*tops):
    found = []
    for top in tops or SOURCE_DIRS:
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, timeout):
    """Compile `srcs` into OUT/<name> unless its stamp matches their hash."""
    want = digest(srcs) + ":" + classpath
    out = os.path.join(OUT, name)
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, f"{name}-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    print(f"e2ebench: compiling {len(srcs)} sources into {name}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=timeout, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"e2ebench: compile of {name} failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def ensure_built(timeout=840):
    """Return the run classpath, compiling whatever changed: the engine
    first, then the benchmark against it."""
    engine_src, bench_src = SOURCE_DIRS
    if not os.path.isdir(engine_src):
        raise SystemExit(f"e2ebench: engine sources not found at {engine_src}")
    jars = os.path.join(spark_jars(), "*")
    engine = compile_tree("engine-classes", sources(engine_src), jars, timeout)
    bench = compile_tree("bench-classes", sources(bench_src),
                         engine + os.pathsep + jars, timeout)
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    print(ensure_built())
