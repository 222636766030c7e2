#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload NAME [--seeds 1,2,...] [--seconds S]

Runs the benchmark once per seed (untraced) and prints, for every metric,
its values, median, quartiles and the quartile distance as a share of the
median, computed as `statistics.quantiles(values, n=4)` gives them. Compare
each share with the metric's `bound` in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--seconds", default=None)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or str(spec["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for seed in a.seeds.split(","):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", seed, "--seconds", seconds, "--trace", "0"],
                           capture_output=True, text=True)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {r.returncode} {time.time() - t0:.1f} s correct {res['correct']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} spread {share:.4f} "
              f"(bound {bounds.get(k)})")


if __name__ == "__main__":
    main()
