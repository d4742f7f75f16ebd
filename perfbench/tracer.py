"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's side, around the calls it makes
into the program's public functions (and, where the program calls its
own module-level functions, by wrapping those module attributes for the
length of the run). Spans stay in memory until the run ends.

Spark's own figures come from the two status stores that stay readable
with the UI off: the core store (jobs and stages: executor run and CPU
time, GC, shuffle, spill) and the SQL store (plan-node metrics: scan
time, files and bytes read, Python-worker time and bytes). Each op runs
under its own job group, so jobs and SQL executions are attributed to
the op that caused them.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``restore``."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def self_times(self, keep=None) -> dict[str, list[float]]:
        """Per span name, each span's self time: its duration minus the
        part of it that its child spans cover. ``keep(span)``, if given,
        selects the spans to report."""
        kids = self._children()
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if keep is not None and not keep(s):
                continue
            covered = union_length([(c.start, c.end) for c in kids[i]], s.start, s.end)
            out[s.name].append(s.end - s.start - covered)
        return out

    def coverage(self, root: str) -> float:
        """Share of the ``root`` spans' wall time that their children cover."""
        kids = self._children()
        total = covered = 0.0
        for i, s in enumerate(self.spans):
            if s.name == root:
                total += s.end - s.start
                covered += union_length([(c.start, c.end) for c in kids[i]], s.start, s.end)
        return covered / total if total else 0.0

    def ops(self, root: str) -> dict[str, tuple[float, float]]:
        return {s.op: (s.start, s.end) for s in self.spans if s.name == root}


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


def _millis(date_opt) -> float | None:
    d = _opt(date_opt)
    return d.getTime() / 1000.0 if d is not None else None


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric(text: str | None) -> float:
    """Parse a SQL-metric display string ("1.3 s", "921.0 B", "100,000",
    or the "total (min, med, max ...)" form, whose total comes first)."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


# SQL plan-node metric name -> per-layer metric it adds to.
_SQL_METRICS = {
    "scan time": "spark.scan_s",
    "size of files read": "spark.scan_bytes",
    "number of files read": "spark.files_read",
    "time to run Python workers": "spark.python_worker_s",
    "data sent to Python workers": "spark.python_bytes_sent",
    "data returned from Python workers": "spark.python_bytes_received",
}


class SparkStores:
    """Reads the core and SQL status stores of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def jobs(self) -> list[dict]:
        out = []
        for j in _seq(self.core.jobsList(None)):
            out.append({
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "description": _opt(j.description()) or "",
                "stages": [int(s) for s in _seq(j.stageIds())],
                "start": _millis(j.submissionTime()),
                "end": _millis(j.completionTime()),
            })
        return out

    def stages(self) -> dict[int, dict]:
        out = {}
        for s in _seq(self.core.stageList(None, False, False, self._empty, None)):
            row = out.setdefault(s.stageId(), defaultdict(float))
            row["tasks"] += s.numTasks()
            row["spark.executor_run_s"] += s.executorRunTime() / 1e3
            row["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            row["spark.gc_s"] += s.jvmGcTime() / 1e3
            row["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            row["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            row["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def sql_metrics(self) -> dict[int, dict[str, float]]:
        """Per job id, the plan-node metrics of the SQL execution that
        ran it (each execution's figures are credited to its first job)."""
        out: dict[int, dict[str, float]] = {}
        for e in _seq(self.sql.executionsList()):
            job_ids = sorted(int(k) for k in _seq(e.jobs().keys().toSeq()))
            if not job_ids:
                continue
            values = self.sql.executionMetrics(e.executionId())
            row: dict[str, float] = defaultdict(float)
            for m in _seq(e.metrics()):
                key = _SQL_METRICS.get(m.name())
                if key is not None:
                    row[key] += parse_metric(_opt(values.get(m.accumulatorId())))
            out[job_ids[0]] = row
        return out


SPARK_LAYER = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.scan_s", "spark.scan_bytes", "spark.files_read",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.python_worker_s", "spark.python_bytes_sent", "spark.python_bytes_received",
)


def spark_layer(
    stores: SparkStores, ops: dict[str, tuple[float, float]], op_of_job
) -> dict[str, float]:
    """Per-op means of the Spark-layer figures over ``ops``.

    ``op_of_job(job) -> op id or None`` attributes each job to an op;
    ``spark.driver_s`` is op wall time minus the union of its jobs' run
    intervals.
    """
    stages, sql = stores.stages(), stores.sql_metrics()
    totals: dict[str, float] = defaultdict(float)
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for job in stores.jobs():
        op = op_of_job(job)
        if op not in ops:
            continue
        totals["spark.jobs"] += 1
        if job["start"] is not None and job["end"] is not None:
            intervals[op].append((job["start"], job["end"]))
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None:
                continue  # skipped stage: its output was reused
            totals["spark.stages"] += 1
            totals["spark.tasks"] += st["tasks"]
            for k, v in st.items():
                if k != "tasks":
                    totals[k] += v
        for k, v in sql.get(job["id"], {}).items():
            totals[k] += v
    for op, (lo, hi) in ops.items():
        totals["spark.driver_s"] += (hi - lo) - union_length(intervals[op], lo, hi)
    n = max(len(ops), 1)
    return {k: totals.get(k, 0.0) / n for k in SPARK_LAYER}
