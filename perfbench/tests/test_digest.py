from decimal import Decimal

import pytest
from pyspark.sql import types as T

import digest


def _digest(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return digest.read_digest(df, digest.digest_action(df).collect()[0])


def test_duplicate_rows_do_not_cancel(spark):
    rows = [(1, "a"), (2, "b")]
    once = _digest(spark, rows, "k long, v string")
    twice = _digest(spark, rows * 2, "k long, v string")
    assert twice.hash_sum != 0
    assert twice.hash_sum == 2 * once.hash_sum
    assert twice.rows == 4


def test_row_order_does_not_matter(spark):
    rows = [(i, str(i), i / 7) for i in range(50)]
    schema = "k long, s string, x double"
    assert _digest(spark, rows, schema) == _digest(spark, rows[::-1], schema)


def test_large_hash_sums_do_not_overflow_under_ansi(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.range(5000).selectExpr("id", "cast(id as string) as s")
    got = digest.read_digest(df, digest.digest_action(df).collect()[0])
    each = df.select(digest.row_hash(df).alias("h")).collect()
    assert got.hash_sum == sum(Decimal(r["h"]) for r in each)
    assert abs(got.hash_sum) > 2**63  # a BIGINT sum would have overflowed


def test_empty_result_digest(spark):
    got = _digest(spark, [], "k long")
    assert (got.rows, got.hash_sum) == (0, 0)


@pytest.mark.parametrize(
    "a, b",
    [
        (31771202123.619236, 31771202123.60012),  # float-sum noise in the billions
        (1234.5678901, 1234.5678903),  # sum-order noise in the thousands
        (0.0, -0.0),
        (1e-9, 0.0),  # below the sixth decimal
        (2.5, 2.5000000000001),
    ],
)
def test_float_rounding_absorbs_noise(spark, a, b):
    assert _digest(spark, [(a,)], "x double") == _digest(spark, [(b,)], "x double")


@pytest.mark.parametrize(
    "a, b",
    [(0.123, 0.124), (0.1234564, 0.1234561), (31771202123.6, 31771212123.6), (1.0, -1.0),
     (float("nan"), 0.0), (float("inf"), float("-inf")), (1e-6, 0.0)],
)
def test_float_rounding_keeps_real_differences(spark, a, b):
    assert _digest(spark, [(a,)], "x double") != _digest(spark, [(b,)], "x double")


def test_integer_widths_and_decimals_agree(spark):
    as_int = _digest(spark, [(7, 2.5)], "k int, x double")
    as_long = _digest(spark, [(7, 2.5)], "k long, x double")
    as_decimal = _digest(spark, [(Decimal(7), Decimal("2.5"))], "k decimal(38,0), x decimal(10,1)")
    assert as_int == as_long == as_decimal


def test_null_position_matters(spark):
    schema = "a string, b string"
    assert _digest(spark, [(None, "x")], schema) != _digest(spark, [("x", None)], schema)


def test_column_names_compare_case_insensitively(spark):
    upper = spark.createDataFrame([(1,)], "K long")
    lower = spark.createDataFrame([(1,)], "k long")
    d_upper = digest.read_digest(upper, digest.digest_action(upper).collect()[0])
    d_lower = digest.read_digest(lower, digest.digest_action(lower).collect()[0])
    assert digest.compare(d_upper, d_lower) is None


def test_compare_reasons():
    want = digest.Digest(2, Decimal(10), ("a", "b"))
    assert digest.compare(want, want) is None
    assert "columns" in digest.compare(digest.Digest(2, Decimal(10), ("a",)), want)
    assert "rows" in digest.compare(digest.Digest(3, Decimal(10), ("a", "b")), want)
    assert "digest" in digest.compare(digest.Digest(2, Decimal(11), ("a", "b")), want)


def test_score_action_counts_null_predictions(spark):
    df = spark.createDataFrame([(1.0, 1.0), (3.0, None)], "label double, p double")
    row = digest.score_action(df, "p").collect()[0]
    assert digest.check_scores(row, 2, 4.0) == "1 null predictions"


@pytest.mark.parametrize(
    "result, expected",
    [
        ({"rows": 3, "scored": 3, "prediction_sum": 6.0}, None),
        ({"rows": 3, "scored": 3, "prediction_sum": 6.0 * (1 + 1e-12)}, None),
        ({"rows": 2, "scored": 2, "prediction_sum": 6.0}, "rows 2 != 3"),
        ({"rows": 3, "scored": 3, "prediction_sum": 6.1}, "sum(prediction)"),
    ],
)
def test_check_scores(result, expected):
    got = digest.check_scores(result, 3, 6.0)
    if expected is None:
        assert got is None
    else:
        assert expected in got
