#!/usr/bin/env python3
"""Steadiness check: run the benchmark repeatedly and compare each
end-to-end metric's spread with its bound from ``BENCHMARK.json``.

    python3 perfbench/steady.py                       # 2 sets x 10 seeds, every workload
    python3 perfbench/steady.py --runs 5 --sets 1 --workloads serve_ingest
    python3 perfbench/steady.py --runs 0 --trace      # one traced run per workload

For each workload and set, the spread of a metric is the distance between
the first and third quartiles of its values over the set's runs (Python's
``statistics.quantiles(values, n=4)``) as a share of their median. A spread
within a third of the bound reads ``ok``; within the bound, ``wide``;
beyond it, ``FAIL`` (``setup_s`` is shown but exempt). With two sets, the
shift of the second median against the first is checked against the bound
in the metric's worse direction. ``--trace`` adds one traced run per
workload, prints its per-layer metrics, and reports the tracing overhead:
the traced run's own end-to-end figures against the untraced medians.
Runs go one at a time, from the checkout root, with seeds 1, 2, ... in
the first set and 101, 102, ... in the second.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    """One benchmark run: its result line, its traced end-to-end figures
    (traced runs only) and its wall time."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    traced = {}
    for line in proc.stderr.splitlines():
        if line.startswith("perfbench: traced end-to-end "):
            traced = json.loads(line.split(" ", 3)[3])
    return result, traced, wall


def _spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    summary: dict = {}
    started = time.perf_counter()

    for workload in args.workloads.split(","):
        sets = []
        for s in range(args.sets if args.runs else 0):
            values: dict[str, list[float]] = {name: [] for name in metrics}
            for i in range(args.runs):
                seed = 100 * s + i + 1
                result, _, wall = _run(workload, seed, seconds, 0)
                if not result["correct"] or result["failed"]:
                    sys.exit(f"{workload} seed {seed}: {result}")
                for name in metrics:
                    values[name].append(result["metrics"][name]["value"])
                print(f"{workload} set {s + 1} seed {seed}: {wall:.1f}s "
                      + " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
            sets.append(values)
        summary[workload] = {}
        for name, m in metrics.items():
            row = {"bound": m["bound"]}
            for s, values in enumerate(sets):
                spread = _spread(values[name]) if len(values[name]) > 1 else 0.0
                verdict = (
                    "exempt" if name == "setup_s"
                    else "ok" if spread <= m["bound"] / 3
                    else "wide" if spread <= m["bound"] else "FAIL"
                )
                row[f"set{s + 1}"] = {
                    "median": statistics.median(values[name]),
                    "spread": round(spread, 4),
                    "verdict": verdict,
                }
            if len(sets) == 2:
                a, b = row["set1"]["median"], row["set2"]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                row["shift"] = round(worse, 4)
                row["shift_ok"] = worse <= m["bound"]
            summary[workload][name] = row
            print(f"  {workload:14s} {name:8s} bound {m['bound']:.2f}: "
                  + "  ".join(
                      f"set{s + 1} median {row[f'set{s + 1}']['median']:.4g} spread "
                      f"{row[f'set{s + 1}']['spread']:.3f} {row[f'set{s + 1}']['verdict']}"
                      for s in range(len(sets)))
                  + (f"  shift {row['shift']:+.3f} {'ok' if row['shift_ok'] else 'FAIL'}"
                     if "shift" in row else ""), flush=True)
        if args.trace:
            result, traced, wall = _run(workload, 1, seconds, 1)
            layers = {n: v["value"] for n, v in result["metrics"].items()}
            overhead = {}
            if sets:
                for name in metrics:
                    base = statistics.median(sets[0][name])
                    overhead[name] = round((traced[name] - base) / base, 4)
            summary[workload]["trace"] = {"layers": layers, "overhead": overhead}
            print(f"  {workload} traced run ({wall:.1f}s): "
                  + json.dumps({n: round(v, 4) for n, v in layers.items() if v}))
            print(f"  {workload} tracing overhead vs untraced medians: {json.dumps(overhead)}")

    print(f"total {time.perf_counter() - started:.0f}s")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
