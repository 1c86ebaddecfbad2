"""Steadiness tool: run one workload repeatedly, one seed per run, and
report each metric's median, quartiles and spread.

    python3 perfbench/steady.py --workload etl_batch --runs 10 [--trace 0]

Spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``; a metric whose spread is below
a third of its bound in BENCHMARK.json is steady enough to keep that
bound.  ``--json FILE`` also writes every run's result.
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


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2]).get("detail", {}) if len(lines) > 1 else {}
    return {"seed": seed, "wall_s": wall, "result": result, "detail": detail}


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--json", help="write every run's result here")
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for i in range(args.runs):
        r = run_once(args.workload, args.first_seed + i, seconds, args.trace)
        runs.append(r)
        res = r["result"]
        print(f"seed {r['seed']}: wall {r['wall_s']:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)

    names = list(runs[0]["result"]["metrics"]) + list(runs[0]["detail"])
    print(f"\n{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s}")
    for name in names:
        vals = [r["result"]["metrics"].get(name, r["detail"].get(name, {})).get("value")
                for r in runs]
        vals = [v for v in vals if v is not None]
        if len(vals) < 2:
            continue
        s = summarize(vals)
        bound = bounds.get(name)
        print(f"{name:34s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
              f"{s['spread']:8.3f} {'' if bound is None else bound:>6}")
    print(f"\nwall per run: {summarize([r['wall_s'] for r in runs])['median']:.1f}s; "
          f"all correct: {all(r['result']['correct'] for r in runs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
