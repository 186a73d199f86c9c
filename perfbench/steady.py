#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, one seed each, and prints
each metric's median, quartiles and spread ((Q3 - Q1) / median), beside the
bound BENCHMARK.json sets for it.

    python3 perfbench/steady.py --workload corpus --runs 10 [--seed0 1]
        [--seconds S] [--trace 0|1]

The per-run results and the summary are written to
.bench_runs/steady-<workload>-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("nan")}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    runs = []
    for seed in range(a.seed0, a.seed0 + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed ({p.returncode}): {p.stderr[-2000:]}")
        res = json.loads(lines[-1])
        res["seed"], res["run_wall_s"] = seed, time.time() - t0
        runs.append(res)
        print(f"seed {seed}: {time.time() - t0:5.1f} s  " + "  ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    print(f"\n{a.workload}: {len(runs)} runs, failed/attempted = "
          f"{sorted({r['failed'] / r['attempted'] for r in runs})}")
    print(f"{'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        s = summary[name] = summarize([r["metrics"][name]["value"] for r in runs])
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if s["spread"] <= b / 3 else "  WIDE")
        print(f"{name:24s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
              f"{s['spread']:8.4f} {b if b is not None else '':>6}{flag}")
    out = os.path.join(ROOT, ".bench_runs", f"steady-{a.workload}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "runs": runs, "summary": summary}, f, indent=1)
    print(f"\nwritten to {out}")


if __name__ == "__main__":
    main()
