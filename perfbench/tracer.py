"""In-memory spans, Spark status-store counters and a process-tree RSS sampler.

Spans are recorded only around the calls the benchmark itself makes into the
program (``build``/``execute`` of a registered query, ``commit``/``merge``/
``plan``/``scan`` of a table operation). Counts come from outside the
program: Spark's own status stores (stage metrics and SQL plan metrics),
read after each operation once the listener bus has drained.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Nested spans kept in memory; ``enabled=False`` makes every call a
    no-op so the untraced run pays nothing but a branch. When ``counters``
    is set, each *counted* span (a call into a layer) ends by attaching the
    Spark counters of the work it ran."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: SparkCounters | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, counted: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        sp = Span(name, time.perf_counter(), parent, request, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if counted and self.counters is not None:
                sp.attrs.update(self.counters.collect())

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of it that its children cover (children never overlap here, the
        client is single-threaded)."""
        child_time = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - child_time[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {
                            "id": i,
                            "name": sp.name,
                            "parent": sp.parent,
                            "request": sp.request,
                            "start_s": sp.start - t0,
                            "dur_s": sp.end - sp.start,
                            "attrs": sp.attrs,
                        }
                        for i, sp in enumerate(self.spans)
                    ],
                    "self_s": self.self_times(),
                },
                fh,
                indent=1,
            )


# --- Spark status stores ------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

#: SQL plan metric name -> counter key, summed over every plan node
SQL_METRICS = {
    ("Scan", "number of files read"): "catalog.files_read",
    ("Scan", "size of files read"): "catalog.bytes_read",
    ("Scan", "scan time"): "catalog.scan_s",
    ("Scan", "number of output rows"): "catalog.rows_scanned",
    ("", "time to start Python workers"): "pyworker.start_s",
    ("", "time to initialize Python workers"): "pyworker.init_s",
    ("", "time to run Python workers"): "pyworker.run_s",
    ("", "data sent to Python workers"): "pyworker.bytes_sent",
    ("", "data returned from Python workers"): "pyworker.bytes_returned",
}


def parse_metric(text: str) -> float:
    """Spark renders accumulated SQL metrics as text: ``1,234``,
    ``12.5 MiB``, ``316 ms``, or a ``total (min, med, max …)`` header with
    the total on the next line. Returns the total in bytes / seconds /
    units."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads what Spark recorded for the jobs of one operation: per-stage
    task metrics from the core status store and plan-node metrics from the
    SQL status store. Stages and SQL executions are attributed to the
    operation that was running when they appeared (the client runs one
    operation at a time)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        self._seen_exec = 0
        self.mark()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        gw = self._gw
        empty = gw.jvm.java.util.ArrayList
        return _seq(
            self._store.stageList(
                empty(), False, False, gw.new_array(gw.jvm.double, 0), empty()
            )
        )

    def mark(self) -> None:
        """Forget everything recorded so far."""
        self._drain()
        self._seen_stages = {s.stageId() for s in self._stages()}
        self._seen_exec = self._sql.executionsCount()

    def collect(self) -> dict[str, float]:
        """Counters of everything that ran since the last mark/collect."""
        self._drain()
        out: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v

        for st in self._stages():
            sid = st.stageId()
            if sid in self._seen_stages:
                continue
            status = st.status().toString()
            if status in ("ACTIVE", "PENDING"):
                continue
            self._seen_stages.add(sid)
            if status == "SKIPPED":
                continue
            add("exec.stages", 1)
            add("exec.tasks", st.numCompleteTasks() + st.numFailedTasks())
            add("exec.failed_tasks", st.numFailedTasks())
            add("exec.task_s", st.executorRunTime() / 1e3)
            add("exec.cpu_s", st.executorCpuTime() / 1e9)
            add("exec.gc_s", st.jvmGcTime() / 1e3)
            add("exec.shuffle_write_bytes", st.shuffleWriteBytes())
            add("exec.shuffle_read_bytes", st.shuffleReadBytes())
            add("exec.shuffle_fetch_wait_s", st.shuffleFetchWaitTime() / 1e3)
            add("exec.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
            sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                add(
                    "exec.sched_delay_s",
                    (first.get().getTime() - sub.get().getTime()) / 1e3,
                )

        n_exec = self._sql.executionsCount()
        if n_exec > self._seen_exec:
            for ex in _seq(self._sql.executionsList(self._seen_exec, n_exec - self._seen_exec)):
                self._plan_metrics(ex.executionId(), add)
            self._seen_exec = n_exec
        return out

    def _plan_metrics(self, exec_id: int, add) -> None:
        values = self._sql.executionMetrics(exec_id)
        rows_out = None
        for node in _seq(self._sql.planGraph(exec_id).allNodes()):
            name = node.name()
            for m in _seq(node.metrics()):
                mname = m.name()
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if rows_out is None and mname == "number of output rows":
                    # allNodes is root-first: the first row count is the
                    # execution's output
                    rows_out = parse_metric(v.get())
                for (prefix, metric), key in SQL_METRICS.items():
                    if mname == metric and name.startswith(prefix):
                        add(key, parse_metric(v.get()))
        add("catalog.rows_out", rows_out or 0.0)


# --- memory ------------------------------------------------------------------


def _tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants by kind: the driver
    Python process, the JVM, Spark's Python daemon and workers. Other
    descendants are short-lived helpers the JVM spawns; between fork and
    exec they share the JVM's pages and would count them twice, so they
    are left out, and so is any second ``java`` process for the same
    reason (the tree has one JVM)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: dict[str, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if pid == root:
            out["driver"] = rss
        elif b"java" in cmd:
            out["jvm"] = max(out.get("jvm", 0), rss)
        elif b"pyspark" in cmd:
            out["pyworkers"] = out.get("pyworkers", 0) + rss
    return out


#: seconds between two RSS samples
RSS_INTERVAL_S = 0.1


class RssSampler:
    """Samples the process tree's resident memory on a thread and keeps the
    peak, with its split by process kind; ``stop`` joins the thread."""

    def __init__(self):
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        split = _tree_rss(os.getpid())
        total = sum(split.values())
        if total > self.peak:
            self.peak, self.peak_split = total, split

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> int:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak
