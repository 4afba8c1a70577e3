#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a base revision against the working tree.

    python3 tools/perf_ab.py BASE_REV --workload curate:10:1201 \\
        [--workload graded:5:1301] [--scratch DIR] [--out runs.json]

BASE_REV's committed files are exported (git archive) into a scratch
directory, so the base builds and runs from its own sources, like the
working tree does. For each workload, pair i runs perfbench/run.py once in
each tree with the same seed (SEED + i) and BENCHMARK.json's run_seconds,
alternating which side runs first.

For every end-to-end metric and workload the report prints both sides'
median and quartiles, how many pairs the change won (ties count for
neither side), and whether a gain holds by the rule of the choosing-metrics
method: the change wins at least nine tenths of all pairs run, the medians
differ, in the better direction, by more than the base's interquartile
range, and the change has no more failed runs than the base. Metric
directions come from BENCHMARK.json. A run that fails or is not correct
counts as a failure of its side; its pair cannot be a win and its metrics
are left out of the medians.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="git revision to compare the working tree with")
    ap.add_argument("--workload", action="append", required=True, metavar="NAME:PAIRS:SEED",
                    help="run PAIRS pairs of NAME on seeds SEED, SEED+1, ...")
    ap.add_argument("--scratch", help="directory for the base's files (default: a temp dir)")
    ap.add_argument("--out", help="write every run's result to this JSON file")
    a = ap.parse_args(argv)
    plans = []
    for w in a.workload:
        try:
            name, pairs, seed = w.split(":")
            plans.append((name, int(pairs), int(seed)))
        except ValueError:
            ap.error(f"--workload {w}: expected NAME:PAIRS:SEED")
    return a, plans


def export(rev, dest):
    """The committed files of `rev`, unpacked into `dest`."""
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", "--format=tar", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"perf_ab: git archive {rev} failed")


def run_once(tree, workload, seed, seconds):
    """One perfbench run in `tree`: (metrics or None, wall seconds, note)."""
    t0 = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None, wall, f"exit {r.returncode}: {r.stderr.strip()[-300:]}"
    if not res.get("correct"):
        return None, wall, f"not correct: failed {res.get('failed')} of {res.get('attempted')}"
    return {k: v["value"] for k, v in res["metrics"].items()}, wall, ""


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, better):
    """Print one workload's table."""
    ok = [(b, c) for b, c in pairs if b is not None and c is not None]
    failed_b = sum(b is None for b, _ in pairs)
    failed_c = sum(c is None for _, c in pairs)
    print(f"\n== {workload}: {len(pairs)} pairs, {len(ok)} comparable;"
          f" failed or incorrect runs: base {failed_b}, change {failed_c}")
    if not ok:
        return
    print(f"{'metric':<24} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'wins':>7}  rule")
    for m in sorted(set(ok[0][0]) & set(ok[0][1])):
        lower = better.get(m, "lower") == "lower"
        base = [b[m] for b, _ in ok]
        chg = [c[m] for _, c in ok]
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, chg))
        mb, mc = statistics.median(base), statistics.median(chg)
        qb, qc = quartiles(base), quartiles(chg)
        gain = (mb - mc) if lower else (mc - mb)
        holds = (wins >= 0.9 * len(pairs) and gain > qb[1] - qb[0]
                 and failed_c <= failed_b)
        print(f"{m:<24} {f'{mb:.6g} [{qb[0]:.6g}, {qb[1]:.6g}]':>30}"
              f" {f'{mc:.6g} [{qc[0]:.6g}, {qc[1]:.6g}]':>30}"
              f" {f'{wins}/{len(pairs)}':>7}  {'holds' if holds else 'not met'}")


def main(argv):
    a, plans = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    scratch = a.scratch or tempfile.mkdtemp(prefix="perf_ab-")
    base_tree = os.path.join(scratch, "base")
    shutil.rmtree(base_tree, ignore_errors=True)
    export(a.base, base_tree)
    trees = {"base": base_tree, "change": ROOT}
    runs = []
    try:
        for workload, n, seed0 in plans:
            pairs = []
            for i in range(n):
                seed = seed0 + i
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                got = {}
                for side in order:
                    metrics, wall, note = run_once(trees[side], workload, seed, seconds)
                    got[side] = metrics
                    runs.append({"workload": workload, "seed": seed, "side": side,
                                 "first": side == order[0], "wall_s": round(wall, 1),
                                 "metrics": metrics, "note": note})
                    status = note or "ok"
                    print(f"[{workload} seed {seed}] {side}: {status} ({wall:.0f} s)",
                          file=sys.stderr, flush=True)
                pairs.append((got["base"], got["change"]))
            report(workload, pairs, better)
    finally:
        if a.out:
            with open(a.out, "w") as fh:
                json.dump({"base": a.base, "runs": runs}, fh, indent=1)
        if not a.scratch:
            shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
