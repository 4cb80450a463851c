#!/usr/bin/env python3
"""The benchmark's own test. Run from the repository root.

    python3 perfbench/selftest.py check             # about 8 minutes on 4 cores
    python3 perfbench/selftest.py spread --runs 10  # run-to-run spread of every end-to-end metric

`check` asserts, from two traced runs of each workload at one seed and one
untraced lifecycle run whose cold-start output is corrupted on purpose:
  - the exact counts repeat across the two traced runs;
  - the timed operations do not trend: the medians of the first and second
    half of a run differ by no more than the op_p50_s bound;
  - streaming.step_s + streaming.catchup_overhead_s is within 10% of the
    traced median batch time;
  - a corrupted output table is reported as failed operations.
It also prints the tracing overhead: traced against untraced op_p50_s.

`spread` runs every workload with seeds 1..N and prints, per end-to-end
metric, the median and the interquartile range as a share of the median,
next to the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
BOUND = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
# lifecycle_dense only: query_suite's pass count, and so its job count, follows --seconds
EXACT_COUNTS = ["spark.jobs_per_batch", "spark.tasks_per_batch",
                "streaming.store_rows_written_per_batch",
                "projector.tables_jobs", "projector.tables_tasks",
                "streaming.seed_jobs", "streaming.seed_tasks"]


def run(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
           "--trace", str(trace), *extra]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])
    return result, detail


def value(result, name):
    return result["metrics"][name]["value"]


def check(args):
    failures = []

    def expect(ok, msg):
        print(("ok   " if ok else "FAIL ") + msg, flush=True)
        if not ok:
            failures.append(msg)

    for workload in ("lifecycle_dense", "query_suite"):
        engine = workload == "lifecycle_dense"
        traced = [run(workload, args.seed, 1) for _ in range(2)]
        for name in EXACT_COUNTS if engine else []:
            a, b = (value(r, name) for r, _ in traced)
            expect(a == b and a > 0, f"{workload}: {name} repeats exactly ({a:g}, {b:g})")
        for i, (r, d) in enumerate(traced):
            expect(r["correct"] and r["failed"] == 0, f"{workload}: traced run {i} is correct")
            ops = d["op_seconds"]
            half = len(ops) // 2
            first, second = statistics.median(ops[:half]), statistics.median(ops[len(ops) - half:])
            drift = abs(second - first) / first
            expect(drift <= BOUND["op_p50_s"],
                   f"{workload}: run {i} halves differ by {drift:.1%} (ops {ops})")
            if engine:
                parts = value(r, "streaming.step_s") + value(r, "streaming.catchup_overhead_s")
                wall = value(r, "trace.op_p50_s")
                expect(abs(parts - wall) <= 0.10 * wall,
                       f"{workload}: step + overhead {parts:.3f} s vs batch {wall:.3f} s")
        # the corruption happens after the timed window, so this run is
        # also the untraced baseline for the tracing overhead
        untraced, _ = run(workload, args.seed, 0, *(["--corrupt"] if engine else []))
        if engine:
            expect(untraced["failed"] > 0 and not untraced["correct"],
                   f"{workload}: corrupted output table gives failed={untraced['failed']}"
                   f" of {untraced['attempted']}")
        base = value(untraced, "op_p50_s")
        overheads = [value(r, "trace.op_p50_s") / base - 1 for r, _ in traced]
        print(f"info {workload}: tracing overhead on op_p50_s "
              + ", ".join(f"{o:+.1%}" for o in overheads) + f" (untraced {base:.3f} s)")
    sys.exit(1 if failures else 0)


def spread(args):
    for w in BENCH["workloads"]:
        results = [run(w["name"], seed, 0)[0] for seed in range(1, args.runs + 1)]
        bad = sum(r["failed"] for r in results)
        print(f"{w['name']}: {len(results)} runs, failed operations {bad}", flush=True)
        for m in BENCH["end_to_end"]:
            vals = [value(r, m["name"]) for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"  {m['name']:12s} median {med:9.4f} {m['unit']:3s} "
                  f"iqr/median {(q3 - q1) / med:6.1%}  bound {m['bound']:.0%}  "
                  f"values {[round(v, 3) for v in vals]}", flush=True)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("check")
    c.add_argument("--seed", type=int, default=7)
    s = sub.add_parser("spread")
    s.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    {"check": check, "spread": spread}[args.cmd](args)


if __name__ == "__main__":
    main()
