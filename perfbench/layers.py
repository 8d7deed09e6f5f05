"""Per-layer readings of the traced run.

``Probe`` wraps the engine's table loader and model loader so their
calls become spans, counts py4j commands, and after each traced
operation reads the Spark status store for the jobs of that
operation's job group.  ``per_layer`` turns the samples into the
metrics metrics.PER_LAYER declares.
"""

from __future__ import annotations

import os
import statistics
import sys

import tracing

# Span name -> layer whose self time it counts toward.
SPAN_LAYERS = {
    "session.get_spark": "session",
    "sources.warm": "sources",
    "sources.load_table": "sources",
    "operators.build": "operators",
    "pipeline.train": "pipeline",
    "pipeline.score": "pipeline",
    "ml.trainer": "ml",
    "ml.predictor": "ml",
    "ml.load": "ml",
    "action": "action",
    "op": "bench",
}


# Set-up span name -> the metric its duration is reported as.
SETUP_METRICS = {"session.get_spark": "session.start_s", "sources.warm": "sources.warm_s"}


def layer_self_times(spans) -> dict[str, float]:
    out = {layer: 0.0 for layer in set(SPAN_LAYERS.values())}
    for name, secs in tracing.self_times(spans).items():
        out[SPAN_LAYERS[name]] += secs
    return out


class Probe:
    """Per-layer readings of the current traced operation."""

    def __init__(self, spark, tracer: tracing.Tracer, cpus: int, file_bytes: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.cpus = cpus
        self.file_bytes = file_bytes
        self.counter = tracing.Py4jCounter()
        self.tables_read: set[str] = set()
        self.first_execution = 0

    def install(self) -> None:
        from pyspark.ml.regression import DecisionTreeRegressionModel

        from decision_tree_analytics_spark.sources import tables

        original = tables.load_table
        probe = self

        def load_table(spark, sf_dir, name, *args, **kwargs):
            probe.tables_read.add(name)
            with probe.tracer.span("sources.load_table"):
                return original(spark, sf_dir, name, *args, **kwargs)

        # Modules bind load_table by name at import, so rebind it in each.
        package = tables.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(package) and (
                getattr(mod, "load_table", None) is original
            ):
                mod.load_table = load_table
        DecisionTreeRegressionModel.load = staticmethod(
            self.tracer.wrap("ml.load", DecisionTreeRegressionModel.load)
        )
        self.counter.install()

    def uninstall(self) -> None:
        self.counter.uninstall()

    def start(self, traced: bool) -> None:
        """Reset the per-operation readings."""
        self.tables_read = set()
        self.counter.calls = 0
        self.first_execution = tracing.sql_executions(self.spark) if traced else 0

    def read(self, op_name: str, group: str, wall: float, action, spans) -> dict:
        """Layer readings of the operation that just ran in ``group``."""
        jobs = tracing.group_jobs(self.spark, group)
        stages = [s for j in jobs for s in j.stages]
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + (s.end - s.start)
        run_s = sum(s.run_s for s in stages)
        job_wall = sum(j.end - j.start for j in jobs)
        m = {
            "operators.build_s": by_name.get("operators.build", 0.0)
            + by_name.get("pipeline.train", 0.0)
            + by_name.get("pipeline.score", 0.0),
            "py4j.calls": self.counter.calls,
            "catalyst.plan_s": tracing.plan_seconds(action) if action is not None else 0.0,
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": sum(s.tasks for s in stages),
            "driver.gap_s": max(0.0, wall - tracing.busy_seconds(jobs)),
            "scheduler.idle_slot_s": max(0.0, job_wall * self.cpus - run_s),
            "executor.run_s": run_s,
            "executor.cpu_s": sum(s.cpu_s for s in stages),
            "shuffle.read_bytes": sum(s.shuffle_read_bytes for s in stages),
            "shuffle.write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "spill.bytes": sum(s.spill_bytes for s in stages),
            "sources.input_bytes": tracing.scanned_bytes(self.spark, self.first_execution),
            "sources.table_bytes": sum(self.file_bytes[t] for t in self.tables_read),
            "ml.trainer.run_s": by_name.get("ml.trainer", 0.0),
            "ml.fit_jobs": len(jobs) if op_name == "dt_train" else 0,
            "ml.predictor.load_s": by_name.get("ml.load", 0.0),
            "ml.predictor.build_s": by_name.get("ml.predictor", 0.0) - by_name.get("ml.load", 0.0),
            "ml.score_s": by_name.get("action", 0.0) if op_name == "dt_score" else 0.0,
        }
        for layer, secs in layer_self_times(spans).items():
            m[f"self.{layer}_s"] = secs
        return m


def per_pass(samples: dict[str, list[dict]]) -> dict[str, float]:
    """Sum over operations of each reading's median over that
    operation's samples: the value for one pass."""
    total: dict[str, float] = {}
    for op_samples in samples.values():
        for key in op_samples[0]:
            total[key] = total.get(key, 0.0) + statistics.median(s[key] for s in op_samples)
    return total


def per_layer(
    traced: dict, setup_spans, untraced_medians: dict, rows: int,
    model_dir: str, cache_peak: int,
) -> dict[str, float]:
    """The per-layer metrics of one traced run.

    ``traced`` holds the traced samples per operation, ``setup_spans``
    the spans of session start and table warm-up, ``untraced_medians``
    each operation's median untraced seconds."""
    lay = per_pass(traced)
    for span in setup_spans:
        if span.name in SETUP_METRICS:
            lay[SETUP_METRICS[span.name]] = span.end - span.start
    setup_self = layer_self_times(setup_spans)
    lay["self.session_s"] = setup_self["session"]
    lay["self.sources_s"] += setup_self["sources"]
    table_bytes = lay.pop("sources.table_bytes")
    lay["sources.read_amplification"] = lay["sources.input_bytes"] / table_bytes if table_bytes else 0.0
    lay["ml.train_s"] = untraced_medians.get("dt_train", 0.0)
    score = untraced_medians.get("dt_score")
    lay["ml.score_rows_per_s"] = rows / score if score else 0.0
    lay["ml.model_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(model_dir) for f in fs
    ) if "dt_train" in untraced_medians else 0
    lay["cache.peak_bytes"] = cache_peak
    untraced_wall = sum(untraced_medians.values())
    lay["trace.untraced_wall_s"] = untraced_wall
    lay["trace.overhead_s"] = lay.pop("wall_s") - untraced_wall
    lay["host.steal_s"] = lay.pop("steal_s")
    return lay
