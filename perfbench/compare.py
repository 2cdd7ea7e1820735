#!/usr/bin/env python3
"""Compare two sets of perfbench runs, metric by metric, per workload.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the stdout of some runs of perfbench/run.py (the report
lines are picked out; result lines are ignored). For every workload and
every metric in both sets it prints each side's median and quartile spread
and the change against the metric's bound in BENCHMARK.json.

Refuses (exit 2) to compare runs taken on different core counts, heaps,
Spark or JDK versions, or boots: timings from such runs are not comparable,
and neither are rows from graft.Bench / FULLBENCH.json, which time
`count()` under a different protocol.
"""
import json
import os
import statistics
import sys

SAME = ("cpus", "boot_id", "heap", "spark", "jdk", "shuffle_partitions")


def reports(path):
    out = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{") and '"report"' in line:
                out.append(json.loads(line))
    if not out:
        sys.exit(f"compare: no perfbench report lines in {path}")
    return out


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q[2] - q[0]) / med if med else 0.0


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = reports(sys.argv[1]), reports(sys.argv[2])
    idents = {tuple((k, r["identity"].get(k)) for k in SAME) for r in base + new}
    if len(idents) != 1:
        print("compare: refusing to compare runs with different identities:", file=sys.stderr)
        for i in sorted(idents):
            print("   ", dict(i), file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    worse = 0
    for wl in sorted({r["report"] for r in base} & {r["report"] for r in new}):
        print(f"== {wl}")
        for key in ("end_to_end", "per_layer"):
            b = [r[key] for r in base if r["report"] == wl and key in r]
            n = [r[key] for r in new if r["report"] == wl and key in r]
            if not b or not n:
                continue
            for name in sorted(set(b[0]) & set(n[0])):
                val = (lambda x: x["value"]) if key == "end_to_end" else (lambda x: x)
                xb = [val(r[name]) for r in b]
                xn = [val(r[name]) for r in n]
                mb, mn = statistics.median(xb), statistics.median(xn)
                change = (mn - mb) / mb if mb else 0.0
                verdict = ""
                if name in bounds:
                    sign = 1 if bounds[name]["better"] == "lower" else -1
                    if sign * change > bounds[name]["bound"]:
                        verdict = "  WORSE than bound"
                        worse += 1
                print(f"  {name:30s} base {mb:.5g} (iqr {spread(xb):.3f}, n={len(xb)})  "
                      f"new {mn:.5g} (iqr {spread(xn):.3f}, n={len(xn)})  change {change:+.3f}{verdict}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
