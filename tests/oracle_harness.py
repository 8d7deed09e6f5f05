"""Local replica of the driver's duckdb-oracle comparison.

Mirrors the documented contract (FIXTURES.md harness rules):
row-count + column-name/shape + order-insensitive value hash, with
columns sorted by name, doubles rounded to 6 decimals, timestamps
compared as ISO-8601 strings.  Running this in pytest before the
driver does is the whole point — every mismatch the driver could see
should be caught here first.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def md5_bucket(val, mod: int) -> int:
    """Python replay of the operators' md5 bucket: the first 8 hex
    digits of md5(str(val)) as an integer, mod ``mod``."""
    return int(hashlib.md5(str(val).encode()).hexdigest()[:8], 16) % mod


def _canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        return f"{round(v, 6):.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalar/array
        return _canon_cell(v.tolist())
    if isinstance(v, bool):
        return str(v)
    return str(v)


def canonicalize(pdf: pd.DataFrame) -> list[str]:
    """Sort columns by name, render every cell, sort rows — a canonical
    multiset representation independent of row/column order."""
    pdf = pdf[sorted(pdf.columns)]
    rows = [
        "|".join(_canon_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return sorted(rows)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?") -> None:
    """Raise AssertionError with a diff sample on any mismatch."""
    spdf = spark_df.toPandas()
    opdf = con.execute(sql).df()

    assert len(spdf) == len(opdf), (
        f"{name}: row count mismatch spark={len(spdf)} oracle={len(opdf)}"
    )
    assert sorted(spdf.columns) == sorted(opdf.columns), (
        f"{name}: column mismatch spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
    )
    s_rows = canonicalize(spdf)
    o_rows = canonicalize(opdf)
    if s_rows != o_rows:
        diff_s = [r for r in s_rows if r not in set(o_rows)][:5]
        diff_o = [r for r in o_rows if r not in set(s_rows)][:5]
        raise AssertionError(
            f"{name}: value mismatch ({len(diff_s)}+ rows differ)\n"
            f"  spark-only sample: {diff_s}\n"
            f"  oracle-only sample: {diff_o}"
        )
