"""Run the benchmark as a check does and record what it costs.

For every workload in BENCHMARK.json, runs ``RUNS`` untraced invocations
with seeds ``--first-seed``, ``--first-seed + 1``, ... and ``TRACE_RUNS``
traced ones (one process at a time, as the check does), then reports per workload and end-to-end metric the
median and the quartile spread ``(Q3 - Q1) / median`` of the values, and
the wall time of each invocation.  From the mean wall time it projects a
full check (4 + 22 x workloads invocations) against the check's budget.

Usage (from the root of a checkout)::

    python3 fiabench/calibrate.py --first-seed 201 --out fiabench/CALIBRATION.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUDGET_S = 3420
#: untraced invocations per workload (the check's spread test uses ten)
RUNS = 10
#: traced invocations per workload, timed for the projection
TRACE_RUNS = 1


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def invoke(spec: dict, workload: str, seed: int, trace: int) -> tuple[float, dict | None, str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    info = [ln for ln in lines if ln.startswith("fiabench:")]
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except json.JSONDecodeError:
        result = None
    return wall, result, " | ".join(info) or p.stderr[-2000:]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = [w["name"] for w in spec["workloads"]]

    report = {
        "host": {"cores": os.cpu_count(), "machine": platform.machine()},
        "run_seconds": spec["run_seconds"],
        "workloads": {},
    }
    started = time.perf_counter()
    for w in names:
        walls, rows, errors = [], [], []
        for i in range(RUNS):
            seed = args.first_seed + i
            wall, result, info = invoke(spec, w, seed, 0)
            walls.append(wall)
            if result is None or not result["correct"]:
                errors.append({"seed": seed, "info": info})
            if result is not None:
                rows.append(result)
            print(f"{w} seed={seed} wall={wall:.1f}s {info}", flush=True)
        trace_walls = []
        for i in range(TRACE_RUNS):
            wall, result, info = invoke(spec, w, 1000 + i, 1)
            trace_walls.append(wall)
            if result is None:
                errors.append({"seed": 1000 + i, "trace": 1, "info": info})
            print(f"{w} traced wall={wall:.1f}s", flush=True)
        metrics = {}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in rows]
            if len(vals) >= 2:
                s = spread(vals)
                metrics[m] = {
                    "values": vals,
                    "median": statistics.median(vals),
                    "spread": round(s, 4),
                    "bound": bounds[m],
                    "spread_over_bound": round(s / bounds[m], 3),
                }
        report["workloads"][w] = {
            "invocations": len(walls),
            "wall_s": [round(x, 1) for x in walls],
            "mean_wall_s": round(statistics.mean(walls), 1),
            "traced_wall_s": [round(x, 1) for x in trace_walls],
            "all_correct": not errors,
            "errors": errors,
            "metrics": metrics,
        }
    n_w = len(names)
    per = {w: report["workloads"][w]["mean_wall_s"] for w in names}
    traced = {
        w: statistics.mean(report["workloads"][w]["traced_wall_s"] or [per[w]])
        for w in names
    }
    # a check: 4 + 22 x workloads invocations; count two traced per workload
    projected = sum(20 * per[w] + 2 * traced[w] for w in names) + 4 * max(per.values())
    report["projection"] = {
        "invocations": 4 + 22 * n_w,
        "projected_check_s": round(projected, 1),
        "budget_s": BUDGET_S,
        "margin_s": round(BUDGET_S - projected, 1),
        "assumption": "20 untraced + 2 traced invocations per workload, "
        "plus 4 at the slowest workload's mean wall time",
    }
    report["calibration_wall_s"] = round(time.perf_counter() - started, 1)
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    sys.exit(0 if all(report["workloads"][w]["all_correct"] for w in names) else 1)


if __name__ == "__main__":
    main()
