"""Metric names and units, timing summaries and the run record.

The names and units here are the ones ``BENCHMARK.json`` declares; a
test keeps the two in step.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str


# Printed by every untraced run (--trace 0).
END_TO_END = (
    Metric("setup_s", "s"),
    Metric("wall_s", "s"),
    Metric("geomean_query_s", "s"),
)

# Printed by every traced run (--trace 1).  Time and count metrics are
# per pass: each operation's median over its traced samples, summed
# over the workload's operations.  A layer a workload does not reach
# reads 0.
PER_LAYER = (
    Metric("session.start_s", "s"),
    Metric("sources.warm_s", "s"),
    Metric("operators.build_s", "s"),
    Metric("py4j.calls", "count"),
    Metric("catalyst.plan_s", "s"),
    Metric("scheduler.jobs", "count"),
    Metric("scheduler.stages", "count"),
    Metric("scheduler.tasks", "count"),
    Metric("driver.gap_s", "s"),
    Metric("scheduler.idle_slot_s", "s"),
    Metric("executor.run_s", "s"),
    Metric("executor.cpu_s", "s"),
    Metric("shuffle.read_bytes", "bytes"),
    Metric("shuffle.write_bytes", "bytes"),
    Metric("spill.bytes", "bytes"),
    Metric("sources.input_bytes", "bytes"),
    Metric("sources.read_amplification", "ratio"),
    Metric("ml.train_s", "s"),
    Metric("ml.trainer.run_s", "s"),
    Metric("ml.fit_jobs", "count"),
    Metric("ml.model_bytes", "bytes"),
    Metric("ml.score_rows_per_s", "1/s"),
    Metric("ml.predictor.load_s", "s"),
    Metric("ml.predictor.build_s", "s"),
    Metric("ml.score_s", "s"),
    Metric("cache.peak_bytes", "bytes"),
    Metric("process.peak_rss_mb", "MB"),
    Metric("host.steal_s", "s"),
    Metric("trace.untraced_wall_s", "s"),
    Metric("trace.overhead_s", "s"),
    Metric("self.session_s", "s"),
    Metric("self.sources_s", "s"),
    Metric("self.operators_s", "s"),
    Metric("self.pipeline_s", "s"),
    Metric("self.ml_s", "s"),
    Metric("self.action_s", "s"),
    Metric("self.bench_s", "s"),
)

_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


@dataclass(frozen=True)
class Summary:
    """A timing as its median plus the highest listed percentile with at
    least ten samples above it (None when there are too few samples)."""

    n: int
    median: float
    tail_pct: float | None
    tail: float | None


def summarise(values: list[float]) -> Summary:
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    n = len(ordered)
    for pct in _PERCENTILES:
        beyond = n - math.ceil(n * pct / 100)
        if beyond >= 10:
            # Nearest-rank percentile: the smallest sample with at
            # least pct% of the samples at or below it.
            return Summary(n, statistics.median(ordered), pct, ordered[n - beyond - 1])
    return Summary(n, statistics.median(ordered), None, None)


def unstolen(samples: list[dict], cpus: int, steal_max: float) -> list[dict]:
    """The samples during which the hypervisor ran something else for at
    most ``steal_max`` of the machine's CPU time; when there is none,
    the least-stolen sample."""

    def share(s: dict) -> float:
        return s["steal_s"] / (s["wall_s"] * cpus)

    kept = [s for s in samples if share(s) <= steal_max]
    return kept or [min(samples, key=share)]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def result_line(
    metrics: tuple[Metric, ...], values: dict[str, float], attempted: int, failed: int
) -> str:
    """The last stdout line of a run: exactly the declared metrics."""
    missing = [m.name for m in metrics if m.name not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m.name: {"value": values[m.name], "unit": m.unit} for m in metrics},
    })


# Fields two records must share before their numbers may be compared.
IDENTITY = ("workload", "corpus", "cpus", "seed")


def comparable(a: dict, b: dict) -> None:
    """Raise ValueError unless records ``a`` and ``b`` were measured on
    the same workload, corpus, core count and seed."""
    diff = [k for k in IDENTITY if a.get(k) != b.get(k)]
    if diff:
        detail = ", ".join(f"{k}: {a.get(k)!r} vs {b.get(k)!r}" for k in diff)
        raise ValueError(f"records differ in {detail}")


def load1() -> float:
    return os.getloadavg()[0]


def steal_seconds() -> float:
    """Cumulative time the hypervisor ran something else while this
    machine's CPUs had work, summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float | None:
    """Peak resident set size of process ``pid`` (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None
