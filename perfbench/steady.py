#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/steady.py --workload dashboard --seeds 1-10 --label a
                                [--seconds S] [--trace 0|1]

Runs ``perfbench/run.py`` once per seed, one after another, from the
repository root. For each end-to-end metric (``--trace 0``) it prints the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median`` next to a third of the metric's bound in
``BENCHMARK.json``; it also pools every run's operation latencies into one
p90. Everything, with each run's values, is written to
``perfbench/results/<workload>-trace<T>-<label>.json``. A traced set also
keeps each run's per-layer values and tracing overhead (against the
untraced report of the same seed in ``perfbench/out/``, so run the untraced
set first). Exits 1 if any run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import p90  # noqa: E402

RESULTS = os.path.join(HERE, "results")
RUN_TIMEOUT_S = 180


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--label", required=True)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]

    runs, pooled = [], []
    for seed in seed_range(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        report = json.loads(lines[-2])
        pooled += [x for v in report["latencies"].values() for x in v]
        run = {"seed": seed, **result, "phases": report["phases"],
               "workload_metrics": report["workload_metrics"],
               "load_avg_start": report["host"]["load_avg_start"]}
        if args.trace:
            run["tracing_overhead"] = report["tracing_overhead"]
        runs.append(run)
        shown = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {shown if not args.trace else 'traced'}", flush=True)

    summary = {}
    if not args.trace:
        for m in spec["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in runs]
            row = {**spread(values), "bound": m["bound"], "target": m["bound"] / 3}
            summary[m["name"]] = row
            print(f"{m['name']:>16}: median {row['median']:.4g} {m['unit']}, "
                  f"spread {row['spread']:.3f} (target < {row['target']:.3f})")
    pooled_p90 = p90(pooled)
    print(f"pooled latency p90 over {len(pooled)} operations: {pooled_p90}")
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-trace{args.trace}-{args.label}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seconds": seconds, "trace": args.trace,
                   "summary": summary,
                   "pooled_latency_p90_s": {"value": pooled_p90, "samples": len(pooled)},
                   "runs": runs}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
