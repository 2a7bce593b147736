"""Steadiness check: run every workload N times, alternating their order,
and report for each end-to-end metric the median, the quartiles, the
IQR as a share of the median, and split-half agreement (the medians of
the first and second half of the runs, and their distance as a share
of the overall median).

    python3 pipebench/steady.py --runs 10 --out pipebench/baseline_4core.json

Run from the repository root. Round i (from 0) uses seed 1 + i for
every workload listed in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    took = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:"
                           f"\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    return {"seed": seed, "run_s": took, "correct": result["correct"],
            "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "warmup_wall_s": detail["warmup_wall_s"],
            "measured_wall_s": detail["measured_wall_s"],
            "host": detail["host"]}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    half = len(values) // 2
    m1 = statistics.median(values[:half])
    m2 = statistics.median(values[half:])
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med,
            "first_half_median": m1, "second_half_median": m2,
            "split_half_gap": abs(m2 - m1) / med}


def main() -> int:
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = [w["name"] for w in spec["workloads"]]

    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for i in range(args.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for w in order:
            r = run_once(w, 1 + i, spec["run_seconds"])
            runs[w].append(r)
            print(json.dumps({"workload": w, **r}), flush=True)

    report = {"host": runs[workloads[0]][-1]["host"],
              "run_seconds": spec["run_seconds"], "runs": args.runs,
              "workloads": {}}
    for w, rs in runs.items():
        metrics = {}
        for name, bound in bounds.items():
            s = spread([r["metrics"][name] for r in rs])
            s["bound"] = bound
            s["within_third_of_bound"] = s["iqr_over_median"] < bound / 3
            metrics[name] = s
        report["workloads"][w] = {
            "all_correct": all(r["correct"] for r in rs),
            "failed": sum(r["failed"] for r in rs),
            "median_run_s": statistics.median(r["run_s"] for r in rs),
            "metrics": metrics, "runs": rs}
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).write_text(text + "\n")
    for w, rep in report["workloads"].items():
        for name, s in rep["metrics"].items():
            print(f"{w:14s} {name:12s} median {s['median']:10.4f} "
                  f"iqr/med {s['iqr_over_median']:.3f} "
                  f"split-half {s['split_half_gap']:.3f} "
                  f"(bound {s['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
