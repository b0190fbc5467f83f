"""Steadiness command: run workloads repeatedly, each run a separate
process with its own seed, and summarise every end-to-end metric.

    python3 perfbench/steady.py --runs 10 --seconds 5 [--workloads a,b] [--first-seed 1]

Runs go one at a time (never two Spark sessions at once). For each
workload and metric it prints the median, the quartiles, min/max and the
spread (interquartile range over the median), the share of failed
operations and each run's process wall time, and writes every run's result
to ``.perfbench/steady-<first-seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    result = json.loads(lines[-1])
    result["process_s"] = elapsed
    result["log"] = [ln for ln in lines[:-1] if ln.startswith("[perfbench]")]
    return result


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else float("nan")}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    p.add_argument("--workloads", default=None, help="comma-separated; default all")
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {}
    for name in names:
        runs = []
        for i in range(args.runs):
            r = run_once(name, args.first_seed + i, seconds)
            runs.append(r)
            steal = next((ln.rsplit(" ", 1)[1] for ln in r["log"] if "steal" in ln), "?")
            print(f"{name} seed {args.first_seed + i}: process {r['process_s']:.1f} s "
                  f"steal {steal} "
                  f"failed {r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        report[name] = {"runs": runs, "summary": {}}
        print(f"\n{name}: {args.runs} runs, process wall "
              f"{sum(r['process_s'] for r in runs):.0f} s in total")
        print(f"  {'metric':<14} {'median':>10} {'q1':>10} {'q3':>10} {'min':>10} "
              f"{'max':>10} {'spread':>7} {'bound':>6}")
        for metric in runs[0]["metrics"]:
            s = summarise([r["metrics"][metric]["value"] for r in runs])
            report[name]["summary"][metric] = s
            print(f"  {metric:<14} {s['median']:>10.4g} {s['q1']:>10.4g} {s['q3']:>10.4g} "
                  f"{s['min']:>10.4g} {s['max']:>10.4g} {s['spread']:>7.3f} "
                  f"{bounds.get(metric, float('nan')):>6}")
        fails = {r["failed"] / r["attempted"] for r in runs}
        print(f"  failed share per run: {sorted(fails)}\n", flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", f"steady-{args.first_seed}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
