#!/usr/bin/env python3
"""Repository benchmark launcher.

    python3 perfbench/run.py --workload {ingest,lakehouse,analytics} \
        --seed N --seconds S --trace {0,1} [--smoke 1]

Run from the repository root.  Builds the engine and the benchmark main
(`perfbench/build.py`) on first use, runs one workload in one JVM on
`local[nproc/2]`, checks its results, and prints as the last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) that BENCHMARK.json declares, in its units; a per-layer
metric of a layer the workload bypasses reads 0.  The line before it is
`{"detail": ...}`: every end-to-end figure that applies to the workload
with its unit and sample count (write/read medians and tails with the
tail's percentile, rows/s, write and space amplification, error rate),
per-op-type medians, the session build time and the machine band (nproc,
heap limit, cpu_score_ms).
Exits non-zero when a result check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import fixtures  # noqa: E402

# A fixed heap (-Xms = -Xmx), as usual for JVM benchmarks, so the heap's
# growth during a run does not vary from run to run.
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def cell_str(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and v != v):
        return "NaN"
    try:
        if pd.isna(v):
            return "NaN"
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_hash(df):
    """Columns sorted by name, rows sorted by all columns, digest of every
    cell's dtype-sensitive rendering: the catalog's oracle comparison."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    h = hashlib.md5()
    for row in df.reset_index(drop=True).itertuples(index=False, name=None):
        h.update(("\x1f".join(cell_str(v) for v in row) + "\x1e").encode())
    return h.hexdigest()


def oracle_check(data_dir, results_dir):
    """Each dumped analytics result against its DuckDB oracle on the same
    parquet.  Returns (checked, failed names)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    oracles = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    failed = []
    for name, sql in sorted(oracles.items()):
        try:
            d = os.path.join(results_dir, name)
            parts = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
            sdf = pd.concat([pd.read_parquet(os.path.join(d, p)) for p in parts],
                            ignore_index=True)
            odf = con.sql(sql).df()
            ok = (sorted(sdf.columns) == sorted(odf.columns) and len(sdf) == len(odf)
                  and frame_hash(sdf) == frame_hash(odf))
        except Exception as e:  # an unreadable dump or oracle error is a failure
            print(f"[perfbench] oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] oracle mismatch: {name}", file=sys.stderr)
            failed.append(name)
    return len(oracles), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "lakehouse", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build.ensure_built()
    t0_ms = int(time.time() * 1000)

    work = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if args.workload == "analytics":
        fixtures.generate(os.path.join(work, "data"), args.seed,
                          fixtures.SCALE / 4 if args.smoke else fixtures.SCALE)
    # Spark's scratch space and Java temp files go to the run directory and
    # the JVM keeps no hsperfdata file, so a run writes only inside the
    # checkout.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS,
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--t0-ms", str(t0_ms), "--smoke", str(args.smoke)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"[perfbench] {args.workload} exceeded the run limit; log: {log_path}")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"[perfbench] benchmark JVM exited with {proc.returncode}")
    res = json.loads(lines[-1])

    if args.workload == "analytics":
        checked, bad = oracle_check(os.path.join(work, "data"), os.path.join(work, "results"))
        res["attempted"] += checked
        res["failed"] += len(bad)
        res["correct"] = res["correct"] and not bad
        res["detail"]["oracle_checked"] = checked
        res["detail"]["oracle_failed"] = bad
        res["detail"]["end_to_end"]["error_rate"].update(
            value=res["failed"] / res["attempted"], samples=res["attempted"])

    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    declared = spec["per_layer" if args.trace else "end_to_end"]
    values = res["values"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing and not args.trace:
        sys.exit(f"[perfbench] the benchmark JVM computed no {missing}")
    res["detail"]["not_computed"] = missing
    res["metrics"] = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                      for m in declared}

    print(json.dumps({"detail": res["detail"]}, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
                     sort_keys=True))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
