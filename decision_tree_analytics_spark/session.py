"""SparkSession factory + session preparation.

Scale stance: every knob here is chosen for a 1000-executor cluster and
then overridden downward for local test runs.

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion are the main levers that
  keep the declared plans healthy at 100 TB without per-query tuning.
* ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  coalesces.  On a real cluster this would be sized ~2-3× total cores.
* Session timezone pinned to UTC so timestamp semantics are
  deterministic and oracle-comparable.
* ``spark.sql.legacy.parquet.nanosAsLong`` — kept for older Spark
  builds where it still applies; Spark 4.1 ignores it, so the events
  reader (sources/tables.py) no longer relies on it: it pins an
  explicit BIGINT schema for ``ts`` and normalizes to epoch-ns
  itself, keeping all time arithmetic on integers (timezone-free,
  lossless) regardless of the file's timestamp unit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session we are handed (the
# driver creates its own session for verify/bench runs).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-size the output partitioning of persisted sub-plans
    # (off by default).  Nearly every iterative/self-joining query here
    # persists a small aggregate (edge lists, postings, band stores)
    # whose cached layout otherwise freezes at the static
    # shuffle.partitions count — every downstream scan of a KB-sized
    # cached table then schedules 32-96 tasks, once per round in the
    # unrolled graph loops.  With AQE sizing the cached plan, those
    # scans collapse to byte-sized partition counts at ANY scale (a
    # 100 TB cached intermediate still gets advisory-sized partitions,
    # a KB one gets 1) — measured 1.5x on the graph family at sf0.1
    # (OPTIMIZATION_r14.md).  Trade-off: a consumer that needed the
    # cached hash partitioning re-shuffles; no declared plan does
    # (tests/test_plans.py locks shuffle counts — all green).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Idempotently apply the engine's runtime confs to a session.

    Safe to call per-query: every conf here is runtime-settable.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static on some builds; never fail a query
            # over a tuning knob.
            pass
    return spark


def enable_runtime_bloom_filters(
    spark: SparkSession, creation_side_max: str = "100MB"
) -> SparkSession:
    """Turn on Catalyst's runtime bloom-filter join pruning: for a
    selective-dim ⋈ fact join the optimizer builds a bloom filter over
    the dim's join keys and injects ``might_contain(...)`` into the
    fact scan, discarding non-matching fact rows BEFORE the shuffle —
    the semi-join reduction that matters most for 100 TB fact⋈fact
    joins where neither side broadcasts and dynamic partition pruning
    doesn't apply (non-partition join keys).

    Not in ``_RUNTIME_CONFS``: the filter costs a build-side pre-pass,
    a paying-off-only-at-scale trade the tiny correctness sweeps
    shouldn't take.  ``creation_side_max`` bounds the build side (a
    too-large build spills the benefit).  Plan shape is locked in
    tests/test_plans.py::test_runtime_bloom_filter_injects."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            creation_side_max
        ),
    }
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when ``$SPARK_GRAFT_DRIVER_MEM`` is
    unset: 75% of physical RAM, capped at 16g, so the driver heap
    leaves room for the Python workers and the OS on small hosts."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(ram * 3 // 4, 16 << 30) >> 20}m"


def get_spark(
    app_name: str = "decision-tree-analytics-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
    this process may run on).  On a real cluster the same builder is
    used with ``master`` unset so spark-submit's cluster manager wins.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # Broadcast threshold: bounded dims (region/nation) always fit;
        # AQE upgrades joins whose runtime size turns out small.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())
