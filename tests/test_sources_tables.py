"""Table readers (sources/tables.py): the footer-keyed schema pin.

``load_table`` records each single-file table's inferred schema under
its parquet footer digest and the session's inference confs, so only
the first read of a footer runs Spark's schema-inference job.  These
tests pin that the later reads run no job, that the pin never serves a
stale schema, and that a pinned read plans exactly like an inferring
one."""

from __future__ import annotations

import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from decision_tree_analytics_spark.operators import tpch as TP
from decision_tree_analytics_spark.plans.inspect import formatted_plan
from decision_tree_analytics_spark.sources import tables
from decision_tree_analytics_spark.sources.tables import load_table


def _jobs_run_by(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"schema-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # Job-start events reach the status store through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **columns) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), str(path))


def test_second_read_of_a_file_runs_no_job(spark, tmp_path):
    _write(tmp_path / "region.parquet", r_regionkey=pa.array([0, 1], pa.int64()))
    tables._pinned.clear()
    assert _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "region")) >= 1
    assert _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "region")) == 0
    assert load_table(spark, str(tmp_path), "region").count() == 2


def test_rewritten_file_returns_its_new_schema(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    _write(path, n_nationkey=pa.array([1], pa.int64()))
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    _write(path, n_nationkey=pa.array([1], pa.int32()), n_name=pa.array(["x"]))
    df = load_table(spark, str(tmp_path), "nation")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("n_nationkey", "int"), ("n_name", "string")
    ]
    assert [tuple(r) for r in df.collect()] == [(1, "x")]


def test_inference_conf_change_infers_again(spark, tmp_path):
    _write(tmp_path / "part.parquet", p_blob=pa.array([b"ab"], pa.binary()))
    read = lambda: load_table(spark, str(tmp_path), "part")  # noqa: E731
    assert read().schema["p_blob"].dataType.simpleString() == "binary"
    assert _jobs_run_by(spark, read) == 0
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert _jobs_run_by(spark, read) >= 1
        df = read()
        assert df.schema["p_blob"].dataType.simpleString() == "string"
        assert df.first().p_blob == "ab"
    finally:
        spark.conf.set(key, old)
    assert read().schema["p_blob"].dataType.simpleString() == "binary"


def test_directory_table_reads_every_file(spark, tmp_path):
    d = tmp_path / "supplier.parquet"
    _write(d / "part-0.parquet", s_suppkey=pa.array([1, 2], pa.int64()))
    _write(d / "part-1.parquet", s_suppkey=pa.array([3], pa.int64()))
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "supplier")
        assert sorted(r.s_suppkey for r in df.collect()) == [1, 2, 3]


@pytest.mark.parametrize("query", [TP.tpch_q1_pricing_summary, TP.tpch_q12_priority_shipping])
def test_pinned_read_plans_like_an_inferring_read(spark, sf_dir, query):
    def plan() -> str:
        return re.sub(r"(#|plan_id=)\d+", r"\1N", formatted_plan(query(spark, sf_dir)))

    tables._pinned.clear()
    inferred = plan()
    assert _jobs_run_by(spark, lambda: query(spark, sf_dir)) == 0
    assert plan() == inferred
