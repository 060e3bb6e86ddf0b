#!/usr/bin/env python3
"""Steadiness of the benchmark's metrics across runs.

    python3 perfbench/steady.py --workloads corpus_chain --seeds 1,2 --repeat 3

Runs `perfbench/run.py` for every workload, seed and repeat (one run at a
time), then prints per workload and metric the median, the first and third
quartiles, and the spread (Q3 - Q1) / median that BENCHMARK.json's bounds
are set from. The attempted and failed op counts are printed per run.
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
    ap.add_argument("--workloads", default="daily_pipeline,corpus_chain")
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="append each run's JSON result to this file")
    a = ap.parse_args()
    for w in a.workloads.split(","):
        values, shares = {}, []
        for seed in a.seeds.split(","):
            for _ in range(a.repeat):
                t = time.time()
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", seed,
                                    "--seconds", a.seconds, "--trace", a.trace],
                                   capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
                    continue
                r = json.loads(lines[-1])
                if a.out:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps({"workload": w, "seed": seed, "result": r}) + "\n")
                shares.append(r["failed"] / r["attempted"])
                print(f"{w} seed {seed}: attempted {r['attempted']} failed {r['failed']} correct {r['correct']} "
                      f"({time.time() - t:.0f} s)", flush=True)
                for k, m in r["metrics"].items():
                    values.setdefault(k, []).append(m["value"])
        print(f"\n{w}: failed share {sorted(set(shares))}")
        print(f"{'metric':40s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{k:40s} {len(vs):3d} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f}")
        print(flush=True)


if __name__ == "__main__":
    main()
