"""Steadiness check: run every workload of BENCHMARK.json on several
seeds, in one or more sets, and report for each end-to-end metric the
spread (interquartile range over median) within each set and the shift of
the median between sets, against the metric's bound.

    python3 perfbench/steadiness.py --runs 10 --sets 2 --out perfbench/steadiness.json

Run from the root of a checkout. Set ``k`` uses seeds ``100*k + 1 ..
100*k + runs``. ``--workload`` limits the check to some workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    values: dict = {}
    runs = []
    for k in range(1, args.sets + 1):
        for name in names:
            for i in range(1, args.runs + 1):
                seed = 100 * k + i
                t0 = time.time()
                proc = subprocess.run(
                    [*bench["command"], "--workload", name, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    capture_output=True, text=True, timeout=900)
                took = time.time() - t0
                if proc.returncode != 0:
                    sys.stderr.write(proc.stderr[-3000:])
                    raise SystemExit(f"{name} seed {seed}: exit {proc.returncode}")
                lines = proc.stdout.strip().splitlines()
                result = json.loads(lines[-1])
                info = json.loads(lines[-2])["run"]
                runs.append({"set": k, "workload": name, "seed": seed,
                             "run_s": round(took, 1), "correct": result["correct"],
                             "attempted": result["attempted"], "failed": result["failed"],
                             "metrics": {m: v["value"] for m, v in result["metrics"].items()},
                             "op_median_ms": info["op_median_ms"]})
                for m, v in result["metrics"].items():
                    values.setdefault((name, m, k), []).append(v["value"])
                print(f"set {k} {name} seed {seed}: {took:.0f}s correct={result['correct']}",
                      file=sys.stderr, flush=True)

    report = []
    for name in names:
        for m, spec in e2e.items():
            sets = [values[(name, m, k)] for k in range(1, args.sets + 1)]
            row = {"workload": name, "metric": m, "bound": spec["bound"],
                   "medians": [statistics.median(v) for v in sets],
                   "spreads": [round(spread(v), 4) for v in sets]}
            if args.sets > 1:
                row["second_worse_by"] = round(
                    worse_by(row["medians"][0], row["medians"][1], spec["better"]), 4)
            report.append(row)
            print(json.dumps(row))
    total = sum(r["run_s"] for r in runs)
    summary = {
        "runs_per_set": args.runs, "sets": args.sets,
        "run_s_mean": {n: round(statistics.mean(r["run_s"] for r in runs
                                                if r["workload"] == n), 1) for n in names},
        "all_correct": all(r["correct"] for r in runs),
        "total_s": round(total, 1),
        "rows": report,
        "runs": runs,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
