"""Spans, Spark counters and process memory for the benchmark.

Spans are recorded only from the benchmark's own files, around its calls
into each package layer (api, fixtures, plans, catalog, sources, session).
Spark counters come from three places, all readable with the UI disabled:

- ``sc.statusTracker()``: the jobs and stages of a job group the
  benchmark sets around one call;
- the JVM status store (``statusStore().lastStageAttempt``): tasks,
  executor run/CPU/GC time, shuffle and spill bytes per stage;
- the SQL status store: per-node SQL metrics of every SQL execution that
  ran in the group, which give rows, bytes and time at the Python
  boundary and rows and files read by parquet scans.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# plan node names of the Python (Arrow / pandas) boundary: ArrowEvalPython,
# BatchEvalPython, MapInPandas, FlatMapGroupsInPandas, MapInArrow, ...
_PY_NODE_WORDS = ("Python", "Pandas", "Arrow")
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_PY_TIME = "time to run Python workers"
_ROWS_OUT = "number of output rows"
_FILES_READ = "number of files read"

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. A span's ``op`` is the operation (request, query
    execution) it belongs to; ``parent`` is the index of the enclosing
    span. Disabled tracers record nothing and cost one attribute read."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, **match) -> list[float]:
        return [
            s.seconds for s in self.spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in match.items())
        ]

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6), **s.attrs}
            for s in self.spans
        ]


def _parse_metric(text: str, units: dict[str, float]) -> float:
    """Total of one formatted SQL metric: '1,234', '16.8 MiB', or the
    'total (min, med, max ...)\\n3.4 s (...)' form."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * units.get(m.group(2), 1.0)


class SparkProbe:
    """Reads the counters of everything one job group ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism
        self._groups = 0

    def _seq(self, seq):
        return self._conv.asJava(seq)

    @contextmanager
    def group(self, label: str):
        """Run the body in a fresh job group; yields a dict that holds the
        group's counters once the body has finished."""
        gid = f"perfbench-{self._groups}"
        self._groups += 1
        first_exec = int(self._sql.executionsCount())
        out: dict = {}
        self.sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        out.update(self.counters(gid, first_exec))

    def counters(self, gid: str, first_exec: int) -> dict:
        # the status stores are fed by the listener bus; drain it so the
        # group's last stage and SQL execution are recorded
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(gid)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(
            ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0)
        c["jobs"] = len(job_ids)
        store = self._jsc.statusStore()
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        c.update(self._sql_metrics(set(job_ids), first_exec))
        return c

    def _sql_metrics(self, job_ids: set[int], first_exec: int) -> dict:
        out = dict.fromkeys(
            ("python_rows", "python_bytes", "python_s", "scan_rows", "files_read"), 0.0)
        n = int(self._sql.executionsCount()) - first_exec
        if n <= 0:
            return out
        for ex in self._seq(self._sql.executionsList(first_exec, n)):
            ex_jobs = {int(j) for j in self._seq(ex.jobs().keySet())}
            if not ex_jobs & job_ids:
                continue
            eid = ex.executionId()
            values = self._seq(self._sql.executionMetrics(eid))
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                python = any(k in name for k in _PY_NODE_WORDS)
                if not python and not name.startswith("Scan parquet"):
                    continue  # one py4j call per node; metrics only where needed
                metrics = {m.name(): m.accumulatorId() for m in self._seq(node.metrics())}

                def val(metric, units=None):
                    text = values.get(metrics[metric]) if metric in metrics else None
                    return _parse_metric(text, units or {}) if text else 0.0

                if python:
                    out["python_rows"] += val(_ROWS_OUT)
                    out["python_bytes"] += val(_PY_SENT, _SIZE_UNITS) + val(
                        _PY_RECEIVED, _SIZE_UNITS)
                    out["python_s"] += val(_PY_TIME, _TIME_UNITS)
                else:
                    out["scan_rows"] += val(_ROWS_OUT)
                    out["files_read"] += val(_FILES_READ)
        return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its direct children
    (the JVM that PySpark launches), from /proc."""
    pid = os.getpid()
    pids = [pid]
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                pids += [int(p) for p in f.read().split()]
    except OSError:
        pass
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
