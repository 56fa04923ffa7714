#!/usr/bin/env python3
"""Per-key scale-up ratio table from two Bench JSONs (r13 verdict task 1).

Usage: python3 tools/scaling_table.py <bench_lo.json> <bench_hi.json> [--factor 10]

Reads the per-key recorded times from two Bench runs (same generator, same
protocol, different scale factor), prints a markdown table sorted by ratio
descending, and flags keys whose hi/lo time ratio exceeds the data-scale
factor (data grew `factor`x, so a key at ratio > factor grew super-linearly
in wall time — modulo fixed per-key session overhead, which makes small
keys read far BELOW factor; the flag is a suspect list, not a verdict).

Exit 0 always; interpretation happens in SCALE.md.
"""
import json, sys


def load(path):
    # First parseable JSON line carrying 'queries': Bench prints the full
    # line, then a digest without the per-key maps, and a raw two-line
    # capture must still parse here. Truncated/noise lines are skipped,
    # not fatal (ADVICE r17).
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(d, dict) and "queries" in d:
                return d["queries"], d
    sys.exit(f"{path}: no bench JSON line found")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    factor = 10.0
    if "--factor" in sys.argv:
        factor = float(sys.argv[sys.argv.index("--factor") + 1])
    lo, lod = load(args[0])
    hi, hid = load(args[1])
    keys = sorted(set(lo) & set(hi))
    missing = sorted(set(lo) ^ set(hi))
    if missing:
        print(f"WARNING: keys not in both runs: {missing}", file=sys.stderr)
    # ADVICE r14: an empty intersection (or an all-zero lo run) must
    # honor the documented "exit 0 always", not IndexError on the median
    # / ZeroDivisionError on the totals.
    if not keys:
        print("WARNING: no keys common to both runs — nothing to compare",
              file=sys.stderr)
        return
    rows = []
    for k in keys:
        a, b = lo[k], hi[k]
        ratio = b / a if a > 0 else float("inf")
        rows.append((ratio, k, a, b))
    rows.sort(reverse=True)
    print(f"| key | {args[0].split('/')[-1]} s | {args[1].split('/')[-1]} s | ratio | flag |")
    print("| --- | --- | --- | --- | --- |")
    nflag = 0
    for ratio, k, a, b in rows:
        flag = "SUPER-LINEAR?" if ratio > factor and b - a > 1.0 else ""
        if flag:
            nflag += 1
        print(f"| {k} | {a:.3f} | {b:.3f} | {ratio:.2f} | {flag} |")
    tot_lo = sum(lo[k] for k in keys)
    tot_hi = sum(hi[k] for k in keys)
    if tot_lo <= 0:
        print(f"\ntotals: lo={tot_lo:.1f}s hi={tot_hi:.1f}s ratio=n/a (zero lo total)")
        return
    print(f"\ntotals: lo={tot_lo:.1f}s hi={tot_hi:.1f}s ratio={tot_hi/tot_lo:.2f} "
          f"(data x{factor:g}); flagged={nflag}; "
          f"median ratio={sorted(r for r, *_ in rows)[len(rows)//2]:.2f}")


if __name__ == "__main__":
    main()
