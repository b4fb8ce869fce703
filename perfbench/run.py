#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload xlsx_read --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source when they changed (see
build.py), then runs the workload in one JVM with Spark in local mode on
every core. Every metric goes to standard output as `name value unit`; the
last line is one JSON object with `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones; with
`--trace 1` they are the per-layer ones, and the run's spans are written
to `.bench_build/perfbench/traces/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("xlsx_read", "xlsx_stream", "docs_curate")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is built outside
# spark-submit; the same list the repository's build passes its JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def manifest_metrics(trace):
    """The metric names BENCHMARK.json lists for this kind of run, in its
    order; None when there is no BENCHMARK.json beside perfbench/."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        bench = json.load(f)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    out_dir = build.OUT
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out_dir, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(out_dir, "logs"), exist_ok=True)
    log_path = os.path.join(out_dir, "logs", f"{tag}.log")
    cmd = (["java", "-Xmx2g", "-Xms2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), work,
              os.path.join(out_dir, "traces")])
    t0 = time.time()
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"[perfbench] {tag} ran over {RUN_TIMEOUT_S} s; log: {log_path}",
                  file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(work, ignore_errors=True)

    lines = out.decode(errors="replace").strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        print(f"[perfbench] {tag} failed (exit {proc.returncode}); log: {log_path}",
              file=sys.stderr)
        return 1
    wanted = manifest_metrics(a.trace)
    if wanted is not None:
        missing = [m for m in wanted if m not in result["metrics"]]
        if missing:
            print(f"[perfbench] {tag} did not report {', '.join(missing)}; log: {log_path}",
                  file=sys.stderr)
            return 1
        result["metrics"] = {m: result["metrics"][m] for m in wanted}
    for line in lines[:-1]:
        print(f"{a.workload} {line}")
    print(f"[perfbench] {tag}: {time.time() - t0:.1f} s wall, "
          f"{result['failed']}/{result['attempted']} operations failed", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
