#!/usr/bin/env python3
"""Tracing overhead and unattributed share, per workload.

    python3 perfbench/overhead.py --workload ingest --seeds 1 2 3 [--seconds S]

Runs the workload untraced and traced on each seed (alternating which runs
first), for BENCHMARK.json's run_seconds unless told otherwise, and prints
the medians of `op_p50_s` on both sides, their difference (the tracing
overhead), and the traced runs' median share of op wall time that no layer
span covers.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed ({workload}, seed {seed}, trace {trace}): {p.stderr[-800:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float,
                    default=json.load(open("BENCHMARK.json"))["run_seconds"])
    args = ap.parse_args()
    plain, traced, share = [], [], []
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            result, detail = run(args.workload, seed, args.seconds, trace)
            if trace:
                traced.append(detail["traced_op_p50_s"])
                share.append(detail["unattributed_share"])
            else:
                plain.append(result["metrics"]["op_p50_s"]["value"])
    p, t = statistics.median(plain), statistics.median(traced)
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "untraced_op_p50_s": p, "traced_op_p50_s": t,
                      "overhead_s": t - p, "overhead_share": (t - p) / p,
                      "unattributed_share": statistics.median(share)}))


if __name__ == "__main__":
    main()
