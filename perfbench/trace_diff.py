#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

    python3 perfbench/trace_diff.py BEFORE.json AFTER.json

Each argument is a span file a traced run leaves in .bench_build/traces/
(`run.py --trace 1`), or a directory of them: files of the same workload are
pooled, so ten seeds on each side compare as one. Prints, per workload, the
self time, jobs and executor time per op of every layer and span, then every
per-layer metric, before and after, so a performance change can show which
layer its saving came from.
"""
import collections
import glob
import json
import os
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = collections.defaultdict(list)
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        runs[d["workload"]].append(d)
    return runs


def per_op(runs):
    """Span name -> (layer, self ms, jobs, executor run ms) per traced op."""
    totals = collections.defaultdict(lambda: [None, 0.0, 0.0, 0.0])
    ops = sum(d["rollup"].get("op", {}).get("calls", 0) for d in runs) or 1
    for d in runs:
        for name, r in d["rollup"].items():
            t = totals[name]
            t[0] = r["layer"]
            t[1] += r["self_ms"]
            t[2] += r["jobs"]
            t[3] += r["executor_run_ms"]
    return {n: (t[0], t[1] / ops, t[2] / ops, t[3] / ops) for n, t in totals.items()}


def metrics(runs):
    vals = collections.defaultdict(list)
    for d in runs:
        for k, v in d["per_layer"].items():
            if v["value"] is not None:
                vals[k].append(v["value"])
    return {k: sorted(v)[len(v) // 2] for k, v in vals.items()}


def rel(a, b):
    return f"{(b - a) / a * 100:+.1f}%" if a else ("" if not b else "new")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(before) | set(after)):
        b, a = before.get(w, []), after.get(w, [])
        print(f"== {w}: {len(b)} run(s) before, {len(a)} after")
        pb, pa = per_op(b), per_op(a)
        layers = collections.defaultdict(lambda: [0.0] * 6)
        for src, off in ((pb, 0), (pa, 3)):
            for layer, ms, jobs, run in src.values():
                row = layers[layer]
                row[off], row[off + 1], row[off + 2] = row[off] + ms, row[off + 1] + jobs, row[off + 2] + run
        print(f"{'layer (per op)':32} {'self ms':>18} {'jobs':>13} {'executor ms':>18}")
        for layer, r in sorted(layers.items(), key=lambda x: -max(x[1][0], x[1][3])):
            print(f"{layer:32} {r[0]:8.1f} {r[3]:8.1f} {rel(r[0], r[3]):>7} {r[1]:6.1f} {r[4]:6.1f}"
                  f" {r[2]:8.1f} {r[5]:8.1f}")
        print(f"{'span (per op)':32} {'self ms':>18} {'jobs':>13}")
        for n in sorted(set(pb) | set(pa)):
            x, y = pb.get(n, (None, 0, 0, 0)), pa.get(n, (None, 0, 0, 0))
            print(f"{n:32} {x[1]:8.1f} {y[1]:8.1f} {rel(x[1], y[1]):>7} {x[2]:6.1f} {y[2]:6.1f}")
        mb, ma = metrics(b), metrics(a)
        print(f"{'per-layer metric (median)':40} {'before':>14} {'after':>14}")
        for k in sorted(set(mb) | set(ma)):
            x, y = mb.get(k), ma.get(k)
            if x or y:
                print(f"{k:40} {x if x is not None else float('nan'):14.4f} "
                      f"{y if y is not None else float('nan'):14.4f} {rel(x or 0, y or 0):>8}")


if __name__ == "__main__":
    main()
