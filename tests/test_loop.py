"""operators/_loop.py: the one checkpoint helper and the bounded loop.

The checkpoint width decides what partitioning the next round sees, so
the two width forms are locked by the exchanges a consumer plans, each
against the form it replaces or excludes.  A source guard keeps every
``localCheckpoint`` call inside the helper, every
``defaultParallelism`` read inside ``operators/_parts.py``, every
tree save and load inside ``ml/registry.py``, and the embedding-vector
load and SRP bucket CTEs inside ``operators/similarity.py``.
"""

from __future__ import annotations

import pathlib
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from decision_tree_analytics_spark.operators._loop import checkpoint, iterate
from decision_tree_analytics_spark.plans.inspect import count_shuffles, simple_plan

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "decision_tree_analytics_spark"


def _run_in_group(spark, fn):
    """``fn()``'s result and the number of Spark jobs it started,
    counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"loop-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_width_one_checkpoint_keeps_single_partition_visible(spark):
    # The checkpointed plan contains an exchange, so under AQE it comes
    # back with unknown partitioning; the trailing coalesce(1) makes
    # SinglePartition visible again and a groupBy plans no shuffle.
    agg = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert count_shuffles(simple_plan(agg)) == 1

    def regroup(df):
        return simple_plan(df.groupBy("k").agg(F.sum("n").alias("n")))

    assert count_shuffles(regroup(checkpoint(agg, 1))) == 0
    # Without the trailing coalesce(1) the same consumer re-shuffles.
    assert count_shuffles(regroup(agg.coalesce(1).localCheckpoint())) == 1


def test_widthless_checkpoint_keeps_hash_partitioning(spark):
    # parts=None keeps the child's partitioning.  Only a non-adaptive
    # plan reports one — an AQE-wrapped plan with an exchange comes back
    # unknown whatever the width — so the input is built with AQE off.
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        hashed = spark.range(1000).withColumn("k", F.col("id") % 10).repartition(4, "k")
        kept, coalesced = checkpoint(hashed), checkpoint(hashed, 2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    w = Window.partitionBy("k").orderBy("id")

    def windowed(df):
        return simple_plan(df.withColumn("r", F.row_number().over(w)))

    assert count_shuffles(windowed(kept)) == 0
    assert count_shuffles(windowed(coalesced)) == 1


def test_iterate_checkpoints_every_round_but_the_last(spark):
    calls = []

    def step(state, i):
        calls.append(i)
        return state.select((F.col("x") + 1).alias("x"))

    start = spark.range(10).select(F.col("id").alias("x"))
    out, jobs = _run_in_group(spark, lambda: iterate(start, step, 4, 2))
    assert calls == [0, 1, 2, 3]
    assert jobs == 3  # one eager checkpoint job per round but the last
    assert sorted(r.x for r in out.collect()) == list(range(4, 14))


@pytest.mark.parametrize(
    "token, home",
    [
        ("localCheckpoint(", "operators/_loop.py"),
        ("defaultParallelism", "operators/_parts.py"),
        ("size_aware_parallelism", None),
        ("DecisionTreeRegressionModel.load(", "ml/registry.py"),
        (".write()", "ml/registry.py"),
        ("VectorAssembler", None),
        ('_vecd("embedding")', "operators/similarity.py"),
        ("pdots AS (", "operators/similarity.py"),
    ],
    ids=[
        "localCheckpoint",
        "defaultParallelism",
        "size_aware_parallelism",
        "model_load",
        "model_write",
        "VectorAssembler",
        "embedding_vectors",
        "srp_bucket_ctes",
    ],
)
def test_token_only_in_its_home_module(token, home):
    # Lineage truncation lives in _loop.py, partition counts in
    # _parts.py, tree save/load in ml/registry.py (which pins what it
    # saves and loads), and the vector-search building blocks in
    # similarity.py; a removed helper's name must not come back.
    helper = PACKAGE / home if home else None
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != helper
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if token in line
    ]
    assert offenders == []
