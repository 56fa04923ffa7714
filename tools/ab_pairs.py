#!/usr/bin/env python3
"""Alternated parent/change pairs of one perfbench workload.

    python3 tools/ab_pairs.py --workload W --parent DIR --change DIR --pairs N --seed0 S

Pair i (0-based) runs `perfbench/run.py --workload W --seed S+i --seconds 8
--trace 0` in both checkouts, the parent first in even pairs and the
change first in odd ones. Prints each pair's end-to-end values, then per
metric each side's median and quartiles (`statistics.quantiles(n=4)`, as
perfbench/spread.py takes them), the change's wins (ties count for
neither side), and whether a gain may be claimed: the change wins at
least 9 of every 10 pairs and its median beats the parent's by more than
the parent's interquartile range. Failed operations are summed per side.
Exits non-zero if a run fails or reports an incorrect result. Every run's
result line is appended to --log.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SECONDS = 8


def run(checkout, workload, seed, trace):
    out = subprocess.run(["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                          "--seconds", str(SECONDS), "--trace", str(trace)],
                         cwd=checkout, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    if out.returncode != 0:
        sys.exit(f"{checkout} seed {seed} failed:\n{out.stderr[-3000:]}")
    r = json.loads(out.stdout.strip().splitlines()[-1])
    if not r["correct"]:
        sys.exit(f"{checkout} seed {seed}: incorrect result")
    return r


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return statistics.median(values), q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", type=Path, help="JSONL file every run's result is appended to")
    a = ap.parse_args()
    metrics = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    results = {s: [] for s in sides}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], a.workload, seed, a.trace)
            results[side].append(r)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps({"workload": a.workload, "side": side, "seed": seed, **r}) + "\n")
        vals = "  ".join(f"{m['name']}={results['parent'][-1]['metrics'][m['name']]['value']:.3f}"
                         f"/{results['change'][-1]['metrics'][m['name']]['value']:.3f}" for m in metrics)
        print(f"pair {i + 1} seed={seed} first={order[0]} parent/change: {vals}", flush=True)
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        (pm, pq1, pq3), (cm, cq1, cq3) = summary(p), summary(c)
        gap = (pm - cm) if lower else (cm - pm)
        holds = wins * 10 >= 9 * a.pairs and gap > pq3 - pq1
        print(f"{name}: parent {pm:.3f} [{pq1:.3f}-{pq3:.3f}]  change {cm:.3f} [{cq1:.3f}-{cq3:.3f}]  "
              f"change better {wins}/{a.pairs}  gain rule {'holds' if holds else 'does not hold'}")
    for s in sides:
        failed = sum(r["failed"] for r in results[s])
        attempted = sum(r["attempted"] for r in results[s])
        print(f"{s}: failed operations {failed}/{attempted}")


if __name__ == "__main__":
    main()
