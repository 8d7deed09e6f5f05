"""Output checks that run inside the timed action.

Every timed operation ends in one Spark aggregate over *all* of its
output columns, so the action materialises each column (a ``count()``
lets Catalyst prune them) and returns a handful of numbers to check.

Oracled queries are compared by an order-insensitive digest: the row
count plus the sum of a 64-bit hash of each row's canonical values.  The
sum is taken as DECIMAL(38, 0), so it neither overflows under ANSI mode
(a BIGINT sum of hashes does) nor cancels on duplicate rows (an XOR of
row hashes is 0 whenever every row appears an even number of times).
The expected digest comes from the same Spark expression applied to
the DuckDB oracle's result, so both sides share one canonical form:

* columns in case-insensitive name order;
* fractional numbers rounded to single precision (about 7 significant
  digits), magnitudes below 5e-7 as zero.  Rounding to a fixed 6
  decimals is not stable: the sixth decimal of a float sum in the
  thousands already moves with the order rows are added in, and the
  per-value arithmetic it needs costs more than many queries;
* integers and scale-0 decimals as BIGINT, whatever their width;
* a null flag per column.

Scored tables (the decision-tree pipeline and q26) have no oracle; for
them the aggregate also returns the prediction count, the number of
null predictions and the prediction sum, which :func:`check_scores`
compares with the label sum.  A variance-impurity tree predicts each
leaf's mean label, so scoring the training rows reproduces the label
sum up to rounding.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ZERO_BELOW = 5e-7
# Relative tolerance for Σprediction against Σlabel.
SCORE_RTOL = 1e-9

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType)


def canonical(field: T.StructField) -> list[Column]:
    """Typed canonical values of one column, by its Spark type, plus a
    null flag (the hash skips NULL inputs, so without the flag
    ``(NULL, 'a')`` and ``('a', NULL)`` would collide)."""
    c = F.col(f"`{field.name}`")
    dtype = field.dataType
    if isinstance(dtype, _INTEGRAL) or (
        isinstance(dtype, T.DecimalType) and dtype.scale == 0
    ):
        values = [c.cast("long")]
    elif isinstance(dtype, _FRACTIONAL + (T.DecimalType,)):
        values = [rounded(c.cast("double"))]
    elif isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        values = [F.to_json(c)]
    elif isinstance(dtype, T.StringType):
        values = [c]
    else:
        values = [c.cast("string")]
    return values + [c.isNull()]


def rounded(x: Column) -> Column:
    """``x`` as a single-precision float (24-bit mantissa, about 7
    significant digits), with magnitudes below ZERO_BELOW, -0.0
    included, as 0.0."""
    return F.when(F.abs(x) < ZERO_BELOW, F.lit(0.0)).otherwise(x).cast("float")


def row_hash(df: DataFrame) -> Column:
    """64-bit hash of each row's canonical values, as DECIMAL(20, 0)."""
    fields = sorted(df.schema.fields, key=lambda f: f.name.lower())
    return F.xxhash64(*[v for f in fields for v in canonical(f)]).cast("decimal(20,0)")


@dataclass(frozen=True)
class Digest:
    rows: int
    hash_sum: Decimal
    columns: tuple[str, ...]


def _digest_columns(df: DataFrame) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash(df)), F.lit(0).cast("decimal(38,0)")).alias("hash_sum"),
    ]


def digest_action(df: DataFrame) -> DataFrame:
    """One-row aggregate: row count and hash sum over every column."""
    return df.agg(*_digest_columns(df))


def read_digest(df: DataFrame, result) -> Digest:
    return Digest(
        rows=int(result["rows"]),
        hash_sum=Decimal(result["hash_sum"]),
        columns=tuple(sorted(c.lower() for c in df.columns)),
    )


def score_action(df: DataFrame, prediction: str) -> DataFrame:
    """Digest aggregate plus the prediction statistics a scored table is
    checked on."""
    p = F.col(f"`{prediction}`")
    return df.agg(
        *_digest_columns(df), F.count(p).alias("scored"), F.sum(p).alias("prediction_sum")
    )


def check_scores(result, rows: int, label_sum: float) -> str | None:
    """None when a scored table is whole and consistent, else why not."""
    if int(result["rows"]) != rows:
        return f"rows {result['rows']} != {rows}"
    if int(result["scored"]) != rows:
        return f"{rows - int(result['scored'])} null predictions"
    pred = float(result["prediction_sum"])
    if not math.isclose(pred, label_sum, rel_tol=SCORE_RTOL):
        return f"sum(prediction) {pred!r} != sum(label) {label_sum!r}"
    return None


def compare(got: Digest, want: Digest) -> str | None:
    """None when two digests agree, else a one-line reason."""
    if got.columns != want.columns:
        return f"columns {got.columns} != {want.columns}"
    if got.rows != want.rows:
        return f"rows {got.rows} != {want.rows}"
    if got.hash_sum != want.hash_sum:
        return "row digest differs"
    return None
