#!/usr/bin/env python3
"""Recipe-level benchmark of the graft engine.

    python3 perfbench/run.py --workload <curate|graded> \\
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), then runs one fresh JVM
with one closed-loop client against Spark local[nproc]. The last line of
standard output is the result: {"correct", "attempted", "failed", "metrics"};
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
traced run also leaves its spans and rollup in .bench_build/traces/ (compare
two with perfbench/trace_diff.py). Exits non-zero when any output check fails.
See perfbench/DESIGN.md for the workloads, metrics and predictions.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("curate", "graded")
# the run must end within 180 s; the JVM gets what is left after the build
RUN_BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, timeout):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_LAYOUT_DIR"] = os.path.join(work, "layouts")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # C1 only: with tiered C2 compilation ops keep getting faster for well
    # over a minute, longer than a run lasts, so the timed window would sample
    # a falling curve whose slope depends on the machine's speed; C1 code
    # reaches its steady speed within the warm-up
    cmd = ["java", "-Xms2g", "-Xmx3g", "-Xss16m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def same_values(a, b):
    """Column-wise comparison the way tools/check.py does it."""
    import numpy as np
    for c in a.columns:
        av, bv = a[c], b[c]
        kinds = {av.dtype.kind, bv.dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return f"type mismatch in {c}: {av.dtype} vs {bv.dtype}"
        if "f" in kinds:
            x, y = av.astype(float).values, bv.astype(float).values
            ok = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            ok = av.astype(str).values == bv.astype(str).values
        if not ok.all():
            i = int(np.argmin(ok))
            return f"value mismatch in {c} at row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r}"
    return None


def oracle_check(info):
    """Each graded output against its SparkEntry.oracleSql twin in DuckDB."""
    import duckdb
    import pandas as pd
    errors = []
    con = duckdb.connect()
    for p in glob.glob(os.path.join(info["sf_dir"], "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(info["oracle_sql"]) as fh:
        oracle = json.load(fh)
    for name, sql in sorted(oracle.items()):
        parts = sorted(glob.glob(os.path.join(info["graded_out"], name, "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in parts]) if parts else pd.DataFrame()
        try:
            want = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: oracle error {e}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            errors.append(f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
            continue
        if len(got) != len(want):
            errors.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
            continue
        cols = sorted(got.columns)
        diff = same_values(got[cols].reset_index(drop=True), want[cols].reset_index(drop=True))
        if diff:
            errors.append(f"{name}: {diff}")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so the JVM is stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build.build()
    start = time.time()
    bench = os.path.join(ROOT, ".bench_build")
    work = os.path.join(bench, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "layouts", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--records", os.path.join(bench, "records"), "--cpus", str(cpus())]
        code = run_jvm(cp, args, work, RUN_BUDGET_S - (time.time() - start))
        result_file = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_file):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.stderr.write(f"perfbench: JVM {'timed out' if code is None else f'exited {code}'}\n")
            return 2
        with open(result_file) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        errors = res["op_errors"] + res["check_errors"]
        if a.workload == "graded":
            oracle_errors = oracle_check(res["info"])
            errors += oracle_errors
            failed = min(attempted, failed + len(oracle_errors))
        metrics = res["metrics"]
        if "ok_ratio" in metrics:
            metrics["ok_ratio"]["value"] = (attempted - failed) / max(attempted, 1)
        if a.trace:
            traces = os.path.join(bench, "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{a.workload}-seed{a.seed}-{int(start)}.json")
            shutil.copy(os.path.join(work, "spans.json"), dest)
            sys.stderr.write(f"perfbench: spans and rollup in {os.path.relpath(dest, ROOT)}\n")
        for e in errors:
            sys.stderr.write(f"perfbench: FAILED {e}\n")
        summary = {k: res[k] for k in ("samples", "untraced_samples", "op_ms", "generate_s",
                                       "warm_up_s", "boot_s", "timed_wall_s", "check_s", "info")}
        sys.stderr.write("perfbench: " + json.dumps(summary) + "\n")
        bad = [k for k, v in metrics.items() if v["value"] is None or not math.isfinite(v["value"])]
        correct = failed == 0 and attempted > 0 and not bad
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
