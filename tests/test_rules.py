"""operators/_rules.py: the Spark-side forms of the cross-engine rules
equal their Python replays (md5 hex slices, integer time keys)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from decision_tree_analytics_spark.operators._rules import (
    US_PER_DAY,
    hex_int,
    ts_bucket,
    ts_us,
)

SLICES = [(1, 8), (9, 8), (1, 13), (9, 2)]


def test_rule_helpers_match_python_replay(spark):
    rows = [
        ("a", 1),
        ("17", 86_399_999_999_999),  # last ns of epoch day 0
        ("doc-42", 86_400_000_000_000),  # first ns of epoch day 1
        ("1700000000-3", 1_700_000_123_456_789_012),
    ]
    df = spark.createDataFrame(rows, "x string, ts long")
    got = df.select(
        "x",
        "ts",
        *[hex_int(F.md5("x"), s, w).alias(f"h_{s}_{w}") for s, w in SLICES],
        ts_us().alias("us"),
        ts_bucket(US_PER_DAY).alias("day"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        digest = hashlib.md5(r.x.encode()).hexdigest()
        for s, w in SLICES:
            assert r[f"h_{s}_{w}"] == int(digest[s - 1 : s - 1 + w], 16)
        assert r.us == r.ts // 1000
        assert r.day == r.ts // 1000 // US_PER_DAY
    assert [r.day for r in got] == [0, 0, 1, 19675]
