"""Span recorder, SQL status-store reader and /proc memory reader.

The recorder wraps calls into sopspark's public functions from the
benchmark side; nothing inside the package is instrumented. A span holds a
name, start, end, parent and run id, and lives in memory until the run
writes them all out at the end.

Spark is lazy, so a traced layer call is followed by a forcing step: a
DataFrame result is persisted and counted inside the same span. The next
layer then reads the persisted rows, so each span's SQL executions belong
to that layer alone. ``call_s`` is the time inside the call (plan
construction plus any eager jobs the function runs); the span's self time
is its duration minus the time its child spans cover.

SQL executions are attributed after the pass: every execution in Spark's
SQL status store (filled with ``spark.ui.enabled=false`` too) is given to
the innermost span whose interval holds its submission time.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYER_FIELDS = ("call_s", "self_s", "rows_out", "shuffle_write_bytes", "spill_bytes", "jobs")


@dataclass
class Span:
    name: str
    start: float
    run_id: str
    parent: int | None
    end: float = 0.0
    call_s: float = 0.0
    rows_out: int = 0
    metrics: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. One tracer per traced pass; spans nest by
    a stack, which is safe because the benchmark drives Spark from one
    thread at a time (a streaming query's batch thread runs while the
    main thread waits on it)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._persisted: list = []

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), self.run_id, parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> Span:
        sp = self.spans[idx]
        sp.end = time.time()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {sp.name} closed out of order")
        return sp

    @contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span and force its result there."""
        from pyspark.sql import DataFrame

        idx = self.open(name)
        try:
            t0 = time.time()
            out = fn(*args, **kwargs)
            self.spans[idx].call_s = time.time() - t0
            if isinstance(out, DataFrame):
                out = out.persist()
                self._persisted.append(out)
                self.spans[idx].rows_out = out.count()
            return out
        finally:
            self.close(idx)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def self_time(self, idx: int) -> float:
        """Duration minus the child spans, which run one after another."""
        kids = sum(c.duration for c in self.spans if c.parent == idx)
        return self.spans[idx].duration - kids

    def innermost(self, t: float) -> int | None:
        best = None
        for i, sp in enumerate(self.spans):
            if sp.start <= t <= sp.end and (best is None or sp.start >= self.spans[best].start):
                best = i
        return best

    def to_json(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                "parent": sp.parent,
                "run_id": sp.run_id,
                "call_s": sp.call_s,
                "self_s": self.self_time(i),
                "rows_out": sp.rows_out,
                "metrics": sp.metrics,
            }
            for i, sp in enumerate(self.spans)
        ]


# --- SQL status store ------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}

# SQL metric name -> the per-layer field it is summed into
SQL_METRICS = {
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}

# One metric in a plan graph rendered by SparkPlanGraph.makeDotFile: a
# one-task size reads "name: 59.0 B", a multi-task one
# "name total (min, med, max (stageId: taskId))<br>26.0 MiB (...)". Spark
# prints sizes with three significant digits.
_DOT_METRIC = re.compile(
    r"<br>(" + "|".join(map(re.escape, SQL_METRICS)) + r")(?::\s*| total \(min, med, max[^<]*<br>)"
    r"([0-9][0-9,]*(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)\b"
)


def dot_metrics(dot: str) -> dict:
    """Sum the SQL_METRICS sizes in one execution's rendered plan graph."""
    sums: dict = {}
    for name, num, unit in _DOT_METRIC.findall(dot):
        field_name = SQL_METRICS[name]
        sums[field_name] = sums.get(field_name, 0.0) + float(num.replace(",", "")) * _SIZE_UNITS[unit]
    return sums


@dataclass
class Execution:
    execution_id: int
    submitted: float  # epoch seconds
    jobs: int
    metrics: dict  # per-layer field -> summed value


def _as_java(spark, scala_obj):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_obj)


def drain_listener(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds final metrics for the executions already run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def sql_executions(spark, since: float) -> list[Execution]:
    """Executions submitted at or after ``since`` (epoch seconds), with
    their job counts and the summed SQL metrics named in SQL_METRICS. One
    rendered plan graph per execution keeps the Py4J traffic small."""
    drain_listener(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _as_java(spark, store.executionsList()):
        submitted = e.submissionTime() / 1000.0
        if submitted < since:
            continue
        eid = e.executionId()
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        out.append(Execution(eid, submitted, e.jobs().size(), dot_metrics(dot)))
    return out


def attribute(tracer: Tracer, executions: list[Execution]) -> None:
    """Give each execution to the innermost span open at its submission."""
    for ex in executions:
        idx = tracer.innermost(ex.submitted)
        if idx is None:
            continue
        m = tracer.spans[idx].metrics
        m["jobs"] = m.get("jobs", 0) + ex.jobs
        for k, v in ex.metrics.items():
            m[k] = m.get(k, 0.0) + v


def layer_table(tracer: Tracer, layers: list[str]) -> dict[str, dict]:
    """Per-layer sums over every span with the layer's name."""
    table = {name: {f: 0.0 for f in LAYER_FIELDS + ("python_bytes",)} for name in layers}
    for i, sp in enumerate(tracer.spans):
        row = table.get(sp.name)
        if row is None:
            continue
        row["call_s"] += sp.call_s
        row["self_s"] += tracer.self_time(i)
        row["rows_out"] += sp.rows_out
        row["jobs"] += sp.metrics.get("jobs", 0)
        for k in ("shuffle_write_bytes", "spill_bytes", "python_bytes"):
            row[k] += sp.metrics.get(k, 0.0)
    return table


# --- time -------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(ticks0: tuple[int, int]) -> float:
    """Share of all CPU ticks since ``ticks0`` that the hypervisor stole.
    run.py prints it per pass and leaves heavily stolen passes out of the
    median; no timing is scaled by it."""
    steal, total = cpu_ticks()
    d_total = total - ticks0[1]
    return (steal - ticks0[0]) / d_total if d_total > 0 else 0.0


# --- memory -----------------------------------------------------------------

def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb(root_pid: int | None = None) -> tuple[float, dict]:
    """Sum of VmHWM (peak resident set) over this process and all its
    descendants: the driver, the JVM and the Python workers. Pages shared
    between forked workers count once per process. Also returns the
    per-command breakdown in MB."""
    kids = _ppid_map()
    todo, parts = [root_pid or os.getpid()], {}
    seen = set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = status.get("Name", "?").strip()
        hwm_kb = int(status.get("VmHWM", "0 kB").split()[0])
        parts[name] = parts.get(name, 0.0) + hwm_kb / 1024.0
        todo += kids.get(pid, [])
    return sum(parts.values()), parts
