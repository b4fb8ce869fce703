#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine (`src/main/scala`, plus `src/main/resources`) and the
benchmark (`perfbench/src`) from source with the Scala compiler that ships
in Spark's jar directory, into `.bench_build/perfbench/`. Each part is
rebuilt only when a hash of its inputs changes. No sbt, no network.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError(f"SPARK_HOME ({home!r}) must name a Spark 4 install with a jars/ directory")
    return os.path.join(home, "jars")


def files_under(d, suffix=""):
    out = []
    for dirpath, _, names in os.walk(d):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def digest(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_part(name, srcs, classpath, resources=None, extra=""):
    out = os.path.join(OUT, name)
    stamp_file = out + ".stamp"
    stamp = digest(srcs + (files_under(resources) if resources else []),
                   classpath + extra)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", classpath] + srcs))
    compiler_cp = os.path.join(spark_jars(), "*")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler_cp,
           "scala.tools.nsc.Main", "@" + argfile]
    print(f"[perfbench] compiling {name}: {len(srcs)} files", file=sys.stderr)
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compiling {name} took over {COMPILE_TIMEOUT_S} s")
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        raise BuildError(f"compiling {name} failed")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp


def build():
    """Compile what changed; return the classpath to run the benchmark."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft", "sources", "excel")):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    jars = os.path.join(spark_jars(), "*")
    engine, engine_stamp = compile_part(
        "engine", files_under(ENGINE_SRC, ".scala"), jars, ENGINE_RES)
    bench, _ = compile_part("bench", files_under(BENCH_SRC, ".scala"),
                            jars + os.pathsep + engine, extra=engine_stamp)
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
