#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one command per workload run.

    python3 perfbench/run.py --workload amplab_sql --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The run starts a fresh Spark driver
on ``local[<cores>]``, generates the workload's inputs from ``--seed`` under
``.perfbench_work/``, warms up, then a single client submits operations
back to back (closed loop) in complete rounds until ``--seconds`` have
passed. Outputs are verified after the window. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MODULES = (
    "operators.relational",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.nlp",
    "pipeline.builder",
)
#: Python query modules whose ops the facade runs
FACADE_MODULES = {"pipeline.facade_queries": "pipeline.builder"}
DRIVER_MEM = "2g"
#: a run whose rounds take this many times --seconds stops early, so a badly
#: regressed program still finishes within the run time limit
STALL_FACTOR = 6
COUNTER_PREFIXES = ("exec.", "catalog.", "pyworker.")


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Record:
    kind: str
    module: str
    latency: float
    ok: bool
    counters: dict = field(default_factory=dict)
    build_s: float = 0.0
    exec_s: float = 0.0


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cpus: int
    tracer: object
    rounds: int
    generated_at: float = 0.0
    round_s: list = field(default_factory=list)

    def mark_generated(self) -> None:
        self.generated_at = time.perf_counter()


#: A run holds too few operations for a percentile with ten samples beyond
#: it to lie above the median, so the tail is a fixed percentile and the run
#: prints how many samples lie beyond it.
TAIL_PCT = 90
#: midpoint-rule steps per rank interval when integrating the Beta density
HD_STEPS = 200


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a weighted mean of the
    order statistics, the ``i``-th weighted by the Beta((n+1)p, (n+1)(1-p))
    probability of ((i-1)/n, i/n]. A run holds one to a few samples of each
    operation type, so the plain sample quantile is one operation and jumps
    when two types swap ranks; this estimate moves smoothly with every
    sample near the quantile."""
    xs = sorted(xs)
    n = len(xs)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    h = 1 / (n * HD_STEPS)
    # the Beta function cancels out of the weighted mean
    w = [
        sum(
            t ** (a - 1) * (1 - t) ** (b - 1)
            for t in ((i * HD_STEPS + k + 0.5) * h for k in range(HD_STEPS))
        )
        for i in range(n)
    ]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def setup_env(work: str, cpus: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Spark's Python workers must import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(work: str):
    from serverless_mapreduce_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def run_loop(ctx: Ctx, wl, seconds: float) -> tuple[list[Record], float]:
    """Closed loop: one client, the next operation starts when the previous
    one has finished, for ``ctx.rounds`` complete rounds."""
    tracer = ctx.tracer
    records: list[Record] = []
    t_start = time.perf_counter()
    ctx.round_s = []
    for n_round, ops in enumerate(wl.rounds(), 1):
        t_round = time.perf_counter()
        for op in ops:
            first_child = len(tracer.spans) + 1
            with tracer.span("op", request=f"r{len(records)}", kind=op.kind):
                t0 = time.perf_counter()
                try:
                    ok = bool(op.fn())
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                lat = time.perf_counter() - t0
            rec = Record(op.kind, op.module, lat, ok)
            for child in tracer.spans[first_child:]:
                for k, v in child.attrs.items():
                    if k.startswith(COUNTER_PREFIXES):
                        rec.counters[k] = rec.counters.get(k, 0.0) + v
                if child.name == "build":
                    rec.build_s += child.end - child.start
                elif child.name == "execute":
                    rec.exec_s += child.end - child.start
            records.append(rec)
        ctx.round_s.append(time.perf_counter() - t_round)
        if n_round == ctx.rounds:
            break
        if time.perf_counter() - t_start > STALL_FACTOR * seconds:
            print(f"note: stopped after {n_round} of {ctx.rounds} rounds", file=sys.stderr)
            break
    return records, time.perf_counter() - t_start


def end_to_end(records, window, setup_s, peak_rss) -> tuple[dict, dict]:
    lat = [r.latency for r in records]
    tail = hd_quantile(lat, TAIL_PCT / 100)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(records) / window, "1/s"),
        "op_p50_s": (hd_quantile(lat, 0.5), "s"),
        "op_tail_s": (tail, "s"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
    }
    info = {
        "op_tail_percentile": TAIL_PCT,
        "op_tail_samples_beyond": sum(x > tail for x in lat),
        "op_samples": len(lat),
        "window_s": window,
    }
    return metrics, info


def per_layer(records, cpus, session_start_s, warmup_s, extra, bookkeeping_s):
    n = max(len(records), 1)
    totals: dict[str, float] = {}
    for r in records:
        for k, v in r.counters.items():
            totals[k] = totals.get(k, 0.0) + v
    m: dict[str, float] = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
    }
    for k in ("catalog.bytes_read", "catalog.files_read", "catalog.scan_s"):
        m[k] = totals.get(k, 0.0) / n
    m["catalog.rows_scanned_per_row_out"] = totals.get("catalog.rows_scanned", 0.0) / max(
        totals.get("catalog.rows_out", 0.0), 1.0
    )
    for mod in MODULES:
        mine = [r for r in records if FACADE_MODULES.get(r.module, r.module) == mod]
        k = max(len(mine), 1)
        m[f"{mod}.build_s"] = sum(r.build_s for r in mine) / k
        m[f"{mod}.exec_s"] = sum(r.exec_s for r in mine) / k
    for k in (
        "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.tasks", "exec.stages",
        "exec.sched_delay_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        "exec.shuffle_fetch_wait_s", "exec.spill_bytes", "exec.failed_tasks",
        "pyworker.start_s", "pyworker.init_s", "pyworker.run_s",
        "pyworker.bytes_sent", "pyworker.bytes_returned",
    ):
        m[k] = totals.get(k, 0.0) / n
    busy = sum(r.latency for r in records)
    m["exec.core_busy_ratio"] = totals.get("exec.task_s", 0.0) / max(busy * cpus, 1e-9)
    for k in (
        "append_p50_s", "merge_p50_s", "scan_p50_s", "lookup_p50_s", "space_amp",
        "plan_s", "files_live", "lookup_files_planned", "lookup_file_precision",
        "scan_files_planned_ratio", "manifest_bytes", "write_amp",
        "merge_files_rewritten", "compact_s", "compact_bytes_rewritten",
    ):
        key = f"sources.snapshots.{k}"
        m[key] = extra.get(key, 0.0)
    m["trace.bookkeeping_s"] = bookkeeping_s / n
    return m


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if any(t in name for t in ("ratio", "_amp", "precision", "per_row_out")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")

    if not os.path.isfile(os.path.join(ROOT, "serverless_mapreduce_spark", "__init__.py")):
        print(f"error: no serverless_mapreduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        print(f"error: no tests/oracle.py under {ROOT}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    setup_env(work, cpus)

    from tracer import RssSampler, SparkCounters, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    tracer = Tracer(enabled=bool(args.trace))
    rss = RssSampler()
    spark = None
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_spark(work)
            session_start_s = time.perf_counter() - t0
            cls = WORKLOADS[args.workload]
            ctx = Ctx(
                spark, work, args.seed, cpus, tracer,
                rounds=max(1, int(args.seconds / cls.ROUND_S + 0.5)),
            )
            wl = cls(ctx)
            t1 = time.perf_counter()
            with tracer.span("setup"):
                wl.setup()
            warmup_s = time.perf_counter() - max(t1, ctx.generated_at)
            setup_s = process_age_s()
            if args.trace:
                tracer.counters = SparkCounters(spark)
            rss.start()
            with tracer.span("window"):
                records, window = run_loop(ctx, wl, args.seconds)
            peak = rss.stop()

        t_verify = time.perf_counter()
        bad = wl.verify()
        verify_s = time.perf_counter() - t_verify
        for msg in bad:
            print(f"MISMATCH {msg}", file=sys.stderr)
        # a wrong result fails every operation of its type; a mismatch that
        # names no operation type (the table checksum) counts once
        bad_kinds = {msg.split(":", 1)[0] for msg in bad}
        attempted = len(records)
        failed = sum(not r.ok or r.kind in bad_kinds for r in records)
        failed += sum(all(r.kind != k for r in records) for k in bad_kinds)
        failed = min(failed, attempted)
        correct = not bad and failed == 0

        metrics, info = end_to_end(records, window, setup_s, peak)
        extra = wl.extra(records, traced=bool(args.trace))
        lines = [f"workload {args.workload} seed {args.seed} cores {cpus} rounds {ctx.rounds}"]
        lines += [f"{k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
        lines.append(f"fail_ratio {failed / max(attempted, 1):.6g} ratio")
        lines += [f"{k} {v:.6g}" for k, v in info.items()]
        lines.append(f"verify_s {verify_s:.3f}")
        lines.append("round_s " + " ".join(f"{x:.3f}" for x in ctx.round_s))
        lines.append(
            "peak_rss_split_mb "
            + " ".join(f"{k}={v / 1e6:.0f}" for k, v in sorted(rss.peak_split.items()))
        )
        kinds = sorted({r.kind for r in records})
        lines += [
            f"op {k} n {sum(r.kind == k for r in records)} p50 "
            f"{statistics.median(r.latency for r in records if r.kind == k):.4f} s"
            for k in kinds
        ]
        if args.trace:
            layer = per_layer(
                records, cpus, session_start_s, warmup_s, extra,
                # self time of the op spans: the client's own work around a
                # call, mostly reading the status stores
                tracer.self_times().get("op", 0.0),
            )
            lines += [f"{k} {v:.6g} {unit_of(k)}" for k, v in layer.items()]
            for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
                lines.append(f"self {name} {s:.6g} s")
            trace_path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path)
            lines.append(f"trace written to {os.path.relpath(trace_path, ROOT)}")
            out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
        else:
            lines += [f"{k} {v:.6g} {unit_of(k)}" for k, v in extra.items()]
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        for line in lines:
            print(line)
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": out_metrics,
        }))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        rss.stop()  # no-op when already stopped
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
