#!/usr/bin/env python3
"""Steadiness and overhead report.

    python3 perfbench/steady.py                      # 10 seeds x every workload
    python3 perfbench/steady.py --runs 1             # every metric once, per workload
    python3 perfbench/steady.py --workloads xlsx_read --runs 5 --trace

Runs each workload once per seed (seeds first-seed .. first-seed+runs-1)
through run.py, then prints, per workload and end-to-end metric, the
median, the quartiles (statistics.quantiles, n=4), the spread (quartile
distance over median) and the metric's bound from BENCHMARK.json. A spread
above a third of its bound is flagged. With --trace, each seed also runs
traced, and the report adds the tracing overhead: the traced run's own
end-to-end median against the untraced one. Raw results go to --out;
--baseline also writes the untraced summary as a baseline file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, cwd=ROOT)
    lines = res.stdout.decode(errors="replace").strip().splitlines()
    if res.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="*", default=names, choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "perfbench",
                                                  "steady.json"))
    ap.add_argument("--baseline", help="write the untraced summary here")
    ap.add_argument("--about", default="", help="the baseline's description")
    a = ap.parse_args()

    raw = {}
    base = {}
    ok = True
    for w in a.workloads:
        raw[w] = {"untraced": [], "traced": []}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            for trace in ((0, 1) if a.trace else (0,)):
                r = run(w, seed, a.seconds, trace)
                kind = "traced" if trace else "untraced"
                if r is None or not r["correct"]:
                    ok = False
                    print(f"{w} seed {seed} {kind}: FAILED {r and (r['failed'], r['attempted'])}")
                if r is not None:
                    raw[w][kind].append({"seed": seed, **r})

        print(f"\n== {w}: {len(raw[w]['untraced'])} untraced runs")
        print(f"{'metric':28} {'unit':8} {'median':>14} {'q1':>14} {'q3':>14} "
              f"{'spread':>7} {'bound':>6}")
        for m, spec in bounds.items():
            vals = [r["metrics"][m]["value"] for r in raw[w]["untraced"] if m in r["metrics"]]
            if not vals:
                continue
            med, q1, q3, spread = summary(vals)
            base.setdefault(w, {})[m] = {
                "unit": spec["unit"], "median": round(med, 6), "q1": round(q1, 6),
                "q3": round(q3, 6), "spread": round(spread, 3), "bound": spec["bound"],
                "runs": len(vals)}
            flag = ""
            if m != "setup_s" and spread > spec["bound"]:
                flag, ok = "  OVER BOUND", False
            elif spread > spec["bound"] / 3:
                flag = "  above bound/3"
            print(f"{m:28} {spec['unit']:8} {med:14.6g} {q1:14.6g} {q3:14.6g} "
                  f"{spread:7.3f} {spec['bound']:6.2f}{flag}")
            traced = [r["metrics"][f"traced.{m}"]["value"] for r in raw[w]["traced"]
                      if f"traced.{m}" in r["metrics"]]
            if traced:
                over = statistics.median(traced) / med - 1
                print(f"{'  tracing overhead':28} {'share':8} {over:14.4f}  "
                      f"(traced median {statistics.median(traced):.6g})")
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(raw, f, indent=1)
    print(f"\nraw results: {a.out}")
    if a.baseline:
        with open(a.baseline, "w") as f:
            json.dump({"about": a.about, "workloads": base}, f, indent=1)
            f.write("\n")
        print(f"baseline: {a.baseline}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
