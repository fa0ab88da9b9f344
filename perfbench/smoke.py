#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny sizes, untraced and
traced.  Run from the repository root:

    python3 perfbench/smoke.py

Checks that each run passes its result checks and prints, with the units
BENCHMARK.json declares, every end-to-end metric (untraced) or per-layer
metric (traced); that the detail line carries the sample counts, tail
percentiles, workload-specific figures, machine band and host speed
probes with the unscaled latencies; that every
per-layer metric is computed by at least one workload; and that the
launcher fails, naming the missing engine sources, without a result line
where the Spark jars are found but the engine's sources are not.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
EXTRAS = {"ingest": {"write_amp", "space_amp", "rows_per_s"},
          "lakehouse": {"write_amp", "space_amp", "rows_per_s"},
          "analytics": set()}
LATENCY = {"ingest": ["write"], "lakehouse": ["write", "read"], "analytics": ["read"]}


def run(workload, trace, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--smoke", "1"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check(workload, trace, problems):
    p = run(workload, trace)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        problems.append(f"{workload} trace={trace}: exit {p.returncode}: {p.stderr[-800:]}")
        return set()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{workload} trace={trace}: checks failed: {detail.get('final_checks')}")
    declared = SPEC["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"{workload} trace={trace}: metrics/units differ: "
                        f"{set(got.items()) ^ set(want.items())}")
    if not trace:
        zero = [k for k, v in result["metrics"].items() if not v["value"] > 0]
        if zero:
            problems.append(f"{workload}: end-to-end metrics not positive: {zero}")
    named = detail["end_to_end"]
    missing = (EXTRAS[workload] | set(want if not trace else [])
               | {f"{lat}_{x}" for lat in LATENCY[workload] for x in ("p50_s", "tail_s")}
               | {"error_rate"}) - set(named)
    if missing:
        problems.append(f"{workload}: detail lacks {missing}")
    for k, v in named.items():
        if not {"value", "unit", "samples"} <= set(v):
            problems.append(f"{workload}: {k} lacks unit or sample count: {v}")
        if k.endswith("_tail_s") and not {"percentile", "samples_beyond"} <= set(v):
            problems.append(f"{workload}: {k} lacks its percentile: {v}")
    if not {"nproc", "task_slots", "max_heap_mb", "cpu_score_ms"} <= set(detail["machine"]):
        problems.append(f"{workload}: machine band incomplete")
    speed = detail.get("host_speed", {})
    if not (speed.get("cold_probes", 0) > 0 and speed.get("steady_probes", 0) > 0
            and {"setup_s", "cold_s", "op_p50_s", "ops_per_s"} <= set(speed.get("unscaled", {}))):
        problems.append(f"{workload}: host speed probes or unscaled latencies missing: {speed}")
    if "samples" not in detail:
        problems.append(f"{workload}: detail lacks sample counts")
    if trace and "unattributed_share" not in detail:
        problems.append(f"{workload}: traced detail lacks the unattributed share")
    if trace and workload == "analytics" and not result["metrics"]["graph.compiles"]["value"] > 0:
        problems.append("analytics: warm graph.compiles is 0")
    print(f"ok {workload} trace={trace}", flush=True)
    return set(want) - set(detail["not_computed"])


def check_fails_without_sources(problems):
    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    # build.sbt names the Spark jars, so the launcher gets past finding
    # them and must stop at the missing engine sources
    for f in ("BENCHMARK.json", "build.sbt"):
        shutil.copy(os.path.join(ROOT, f), bare)
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run("ingest", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        problems.append("launcher succeeded without the engine's sources")
    elif "engine sources not found" not in p.stderr:
        problems.append(f"launcher failed for another reason: {p.stderr[-800:]}")
    else:
        print("ok fails without sources", flush=True)


def main():
    problems = []
    check_fails_without_sources(problems)
    computed = set()
    for w in ("ingest", "lakehouse", "analytics"):
        for trace in (0, 1):
            computed |= check(w, trace, problems)
    never = {m["name"] for m in SPEC["per_layer"]} - computed
    if never:
        problems.append(f"per-layer metrics no workload computes: {sorted(never)}")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
