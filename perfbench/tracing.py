"""Spans, py4j call counts and Spark status-store reads for the traced run.

Spans are recorded by the benchmark around its calls into the engine's
public functions; the engine itself is not instrumented.  They stay in
memory until the run ends and are then written out in one file.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records nested spans when ``enabled``; a no-op otherwise, so the
    untraced run walks the same code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            span.end = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of each span name not covered by its child spans,
    summed over all spans of that name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        covered = _union(children.get(s.id, []))
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


class Py4jCounter:
    """Counts commands the Python driver sends to the JVM, by patching
    the send method of both py4j connection classes while installed."""

    def __init__(self) -> None:
        self.calls = 0
        self.counting = False
        self._saved: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command
            self._saved.append((cls, original))
            cls.send_command = self._counted(original)

    def _counted(self, original):
        counter = self

        def send_command(conn, command, *args, **kwargs):
            if counter.counting:
                counter.calls += 1
            return original(conn, command, *args, **kwargs)

        return send_command

    def uninstall(self) -> None:
        for cls, original in self._saved:
            cls.send_command = original
        self._saved.clear()

    @contextlib.contextmanager
    def measuring(self):
        self.counting = True
        try:
            yield
        finally:
            self.counting = False


@dataclass
class StageStat:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class JobStat:
    start: float  # epoch seconds, millisecond resolution
    end: float
    stages: list[StageStat] = field(default_factory=list)


def group_jobs(spark, group: str) -> list[JobStat]:
    """Jobs run under job group ``group`` with their executed stages,
    read from the application status store (works with the UI off)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        submitted, completed = job.submissionTime(), job.completionTime()
        if not (submitted.isDefined() and completed.isDefined()):
            continue
        stat = JobStat(submitted.get().getTime() / 1e3, completed.get().getTime() / 1e3)
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(stage_ids.apply(i), False, no_status, False, no_quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.status().toString() == "SKIPPED":
                    continue
                stat.stages.append(StageStat(
                    tasks=s.numCompleteTasks(),
                    run_s=s.executorRunTime() / 1e3,
                    cpu_s=s.executorCpuTime() / 1e9,
                    shuffle_read_bytes=s.shuffleReadBytes(),
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                ))
        jobs.append(stat)
    return jobs


def busy_seconds(jobs: list[JobStat]) -> float:
    """Seconds during which at least one of ``jobs`` was running."""
    return _union([(j.start, j.end) for j in jobs])


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b")


def parse_size(text: str) -> int:
    """Bytes in the first size of a Spark SQL metric's text, such as
    ``"2.7 MiB"`` or ``"total (min, med, max)\n2.7 MiB (...)"``."""
    m = _SIZE.search(text)
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else 0


def sql_executions(spark) -> int:
    """Number of SQL executions so far."""
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def scanned_bytes(spark, first: int) -> int:
    """Bytes of the files the scans of SQL executions ``first`` onward
    read (their "size of files read" metric).  Spark's stage input
    metrics miss most of what the vectorised parquet reader reads."""
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList(first, store.executionsCount() - first)
    total = 0
    for i in range(executions.size()):
        execution = executions.apply(i)
        metrics = execution.metrics()
        ids = [
            m.accumulatorId()
            for m in (metrics.apply(k) for k in range(metrics.size()))
            if m.name() == "size of files read"
        ]
        if not ids:
            continue
        values = store.executionMetrics(execution.executionId())
        for acc in ids:
            value = values.get(acc)
            if value.isDefined():
                total += parse_size(value.get())
    return total


def plan_seconds(df) -> float:
    """Catalyst analysis + optimisation + planning time of the query
    that ran ``df``'s action."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def peak_storage_bytes(spark) -> int:
    """Peak storage (cache) memory of every executor since start, from
    the executor metrics the status store keeps."""
    store = spark.sparkContext._jsc.sc().statusStore()
    executors = store.executorList(True)
    peak = 0
    for i in range(executors.size()):
        metrics = executors.apply(i).peakMemoryMetrics()
        if metrics.isDefined():
            m = metrics.get()
            peak += m.getMetricValue("OnHeapStorageMemory") + m.getMetricValue(
                "OffHeapStorageMemory"
            )
    return peak
