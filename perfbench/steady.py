#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, for
each metric, its median and its spread (interquartile distance over the
median), next to the bound BENCHMARK.json fixes for it.

    python3 perfbench/steady.py --workload etl_daily --seeds 1-10 [--trace 0]

Run from the root of a checkout, like run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", a.trace],
            capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']}",
              {k: round(v["value"], 4) for k, v in result["metrics"].items()},
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        bound = bounds.get(k)
        verdict = "" if bound is None else (
            f"bound {bound}  {'ok' if spread < bound / 3 else 'WIDE'}")
        print(f"{k:>24} median {med:12.4f} spread {spread:7.3f}  {verdict}")


if __name__ == "__main__":
    main()
