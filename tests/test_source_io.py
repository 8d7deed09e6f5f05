"""Source and format operators: schema-merge generations, malformed
CSV accounting and the Python DataSource reader."""

from __future__ import annotations

import pyspark.sql.functions as F

from decision_tree_analytics_spark.operators.source_io import src_schema_merge
from decision_tree_analytics_spark.sources.tables import load_table


def test_schema_merge_buckets_by_writer_generation(spark, sf_dir):
    rows = {r["segment"]: r for r in src_schema_merge(spark, sf_dir).collect()}
    c = load_table(spark, sf_dir, "customer")
    n_even = c.filter(F.col("c_custkey") % 2 == 0).count()
    pre = rows["<pre-evolution>"]
    assert pre["n_customers"] == n_even
    assert pre["min_key"] % 2 == 0 and pre["max_key"] % 2 == 0
    # every evolved segment holds odd keys only
    for seg, r in rows.items():
        if seg != "<pre-evolution>":
            assert r["min_key"] % 2 == 1 and r["max_key"] % 2 == 1


def test_csv_malformed_counts_planted_bad_rows(spark, sf_dir):
    from decision_tree_analytics_spark.operators.source_io import (
        N_MALFORMED,
        src_csv_malformed,
    )

    row = src_csv_malformed(spark, sf_dir).collect()[0]
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert row["n_corrupt"] == N_MALFORMED
    assert row["n_good"] == n_orders
    assert row["n_rows"] == n_orders + N_MALFORMED


def test_python_datasource_generates_every_partition_once(spark, sf_dir):
    from collections import Counter

    from decision_tree_analytics_spark.operators.source_io import (
        PYDS_PARTITIONS,
        PYDS_ROWS_PER_PART,
        _pyds_row,
        src_python_datasource,
    )

    rows = {r["tag"]: r for r in src_python_datasource(spark, sf_dir).collect()}
    total = PYDS_PARTITIONS * PYDS_ROWS_PER_PART
    expect = Counter()
    sums: Counter = Counter()
    for tid in range(total):
        _, _, cents, tag = _pyds_row(tid)
        expect[tag] += 1
        sums[tag] += cents
    assert sum(r["n_trades"] for r in rows.values()) == total
    for tag, r in rows.items():
        assert r["n_trades"] == expect[tag]
        assert r["sum_cents"] == sums[tag]
        assert r["n_parts"] >= 1
    # id range proves no partition was dropped or duplicated
    assert min(r["min_id"] for r in rows.values()) == 0
    assert max(r["max_id"] for r in rows.values()) == total - 1
