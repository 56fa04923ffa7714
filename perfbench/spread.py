#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed on each workload and
report, per end-to-end metric, the median and the interquartile distance
as a share of the median (quartiles as `statistics.quantiles(n=4)` gives
them), next to a third of the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [workload ...]

Run it from the root of a checkout. Every run's result line is appended
to .bench_build/spread.jsonl.
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    log = ROOT / ".bench_build" / "spread.jsonl"
    log.parent.mkdir(exist_ok=True)
    worst = 0.0
    for w in names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            out = subprocess.run([*spec["command"], "--workload", w, "--seed", str(seed),
                                  "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                                 cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-3000:]}")
            lines = out.stdout.strip().splitlines()
            r = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "start": t0,
                                    "run_s": time.time() - t0, "info": lines[-2], **r}) + "\n")
            if not r["correct"]:
                sys.exit(f"{w} seed {seed}: incorrect result {r}")
            for m in values:
                values[m].append(r["metrics"][m]["value"])
            print(f"{w} seed={seed} {time.time() - t0:.1f}s", flush=True)
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med
            if m["name"] != "setup_s":
                worst = max(worst, spread / m["bound"])
            print(f"  {w:15s} {m['name']:12s} median={med:.4f} spread={spread:.4f} "
                  f"third_of_bound={m['bound'] / 3:.4f}"
                  f"{'  OVER' if spread > m['bound'] / 3 else ''}", flush=True)
    print(f"largest spread / bound (setup_s excluded): {worst:.3f}")


if __name__ == "__main__":
    main()
