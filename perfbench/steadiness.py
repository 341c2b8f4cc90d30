#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median) against the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--workload market_live ...]

A metric is steady when its spread is below a third of its bound; the
check fails when any spread exceeds its bound or any run fails.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        walls = []
        for seed in range(1, a.runs + 1):
            t0 = time.time()
            out = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}")
                ok = False
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= res["correct"]
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()) +
                  f" wall={walls[-1]:.1f}s", flush=True)
        print(f"{w} run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            flag = "ok" if spread < m["bound"] / 3 else "WIDE" if spread > m["bound"] else "fair"
            if spread > m["bound"]:
                ok = False
            print(f"{w} {m['name']}: median {med:.4g} {m['unit']}, spread {spread:.3f} "
                  f"(bound {m['bound']}) {flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
