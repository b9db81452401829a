#!/usr/bin/env python3
"""Steadiness mode: run each workload repeatedly and report, per end-to-end
metric, the median, the quartiles and the spread (interquartile range as a
share of the median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--sets 2] [--traced]

Run ``i`` of set ``s`` uses seed ``seed0 + s * runs + i``. The workloads
are interleaved (run ``i`` of every workload, then run ``i + 1``), so a
drift of the host's speed during a set shows on every workload alike. A
metric passes when its spread is within its bound, ``setup_s`` included.
With ``--sets 2`` the second set's median is compared with the first's: a
metric passes when it is not worse by more than its bound. With ``--traced`` every seed is run
again with ``--trace 1`` and the difference between the traced and untraced
medians is the tracing overhead. Results also go to
``.perfbench_work/steady/<time>.json``.
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
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    """One benchmark run; returns its end-to-end metrics (parsed from the
    ``name value unit`` lines, which both modes print)."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: incorrect output")
    values = {"run_wall_s": wall}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3:
            try:
                values[parts[0]] = float(parts[1])
            except ValueError:
                continue
    return values


def spread(xs: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    metrics = bench["end_to_end"]
    workloads = args.workloads.split(",")
    untraced = {wl: [[] for _ in range(args.sets)] for wl in workloads}
    for s in range(args.sets):
        for i in range(args.runs):
            seed = args.seed0 + s * args.runs + i
            for wl in workloads:
                untraced[wl][s].append(run_once(wl, seed, args.seconds, 0))
    traced_runs = {wl: [] for wl in workloads}
    if args.traced:
        for i in range(args.runs):
            for wl in workloads:
                traced_runs[wl].append(run_once(wl, args.seed0 + i, args.seconds, 1))

    report: dict = {}
    ok = True
    for wl in workloads:
        sets, traced = untraced[wl], traced_runs[wl]
        report[wl] = {}
        print(f"== {wl}: {args.runs} runs x {args.sets} set(s), {args.seconds} s")
        walls = [r["run_wall_s"] for runs in sets for r in runs]
        print(f"   run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            row: dict = {"bound": bound}
            for s, runs in enumerate(sets):
                values = [r[name] for r in runs]
                med, q1, q3, sp = spread(values)
                row[f"set{s + 1}"] = {
                    "median": med, "q1": q1, "q3": q3, "spread": sp, "values": values,
                }
                gate = "ok" if sp <= bound else "FAIL"
                ok &= gate == "ok"
                print(
                    f"   {name:12s} set{s + 1} median {med:10.4f} q1 {q1:10.4f} q3 {q3:10.4f}"
                    f" spread {sp:6.3f} bound {bound} (a third: {bound / 3:.3f}) {gate}"
                )
                print("      runs: " + " ".join(f"{v:.4g}" for v in values))
            if args.sets == 2:
                a, b = row["set1"]["median"], row["set2"]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                row["second_vs_first_worse_by"] = worse
                gate = "ok" if worse <= bound else "FAIL"
                ok &= gate == "ok"
                print(f"   {name:12s} second set worse by {worse:+.3f} (bound {bound}) {gate}")
            if traced:
                t_med = statistics.median(r[name] for r in traced)
                row["traced_median"] = t_med
                row["tracing_overhead"] = (t_med - row["set1"]["median"]) / row["set1"]["median"]
                print(f"   {name:12s} traced median {t_med:10.4f} overhead {row['tracing_overhead']:+.3f}")
            report[wl][name] = row
    out = os.path.join(ROOT, ".perfbench_work", "steady", f"{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"report written to {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
