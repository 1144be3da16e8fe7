"""Run-to-run spread of the end-to-end metrics over several seeds.

Usage (from the repository root):
  python3 ganonbench/spread.py --workload store_update_classify --seeds 1 2 3 4 5

Runs the benchmark once per seed (untraced, run_seconds from
BENCHMARK.json) and prints, per metric, the median, the quartile spread
(Q3 - Q1) / median, and whether that spread is within a third of the
metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    here = os.path.dirname(os.path.abspath(__file__))
    values = {}
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            check=True, capture_output=True, text=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med
        ok = "ok" if spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:>18}: median {med:.4g}  spread {spread:.3f}  "
              f"bound {m['bound']}  {ok}")


if __name__ == "__main__":
    main()
