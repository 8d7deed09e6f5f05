"""The Spark-side form of each cross-engine determinism rule (CLAUDE.md).

Queries that are hash-compared against their DuckDB oracles call these
helpers rather than spelling the expressions inline, so each rule has
one Spark-side spelling; oracles spell the DuckDB side in their SQL
text.  The helpers are functions because a Column can only be built
once a SparkContext is active, not at import time.

- Rule 1, the event-time key: ``events.ts`` is int64 epoch-ns, and
  ``ts_us()`` (integer division by 1000) is DuckDB's ``epoch_us(ts)``.
  ``ts_bucket(width_us)`` is ``epoch_us(ts) // width_us``; day, week
  and hour keys pass ``US_PER_DAY``, ``US_PER_DAY * 7`` and
  ``US_PER_HOUR``.  Never divide as a double: int64-ns magnitudes
  lose µs in a 53-bit mantissa.
- Rule 3, rounding: builtin ``round()`` differs across engines, so a
  double that is compared against the oracle is rounded half up at
  1e-6 as ``floor(x * 1e6 + 0.5) / 1e6`` on both sides (``round6``).
- Rule 6, md5-derived integers: ``hex_int(hex, start, width)`` reads
  ``width`` hex digits of ``hex`` from 1-based ``start`` as a BIGINT,
  ≡ DuckDB ``('0x' || substr(hex, start, width))::BIGINT``.  Callers
  pass ``F.md5(...)`` or an existing hex column and keep their own
  ``% mod``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

US_PER_HOUR = 3_600_000_000
US_PER_DAY = 24 * US_PER_HOUR


def ts_us() -> Column:
    return F.expr("ts div 1000")


def ts_bucket(width_us: int) -> Column:
    return F.expr(f"(ts div 1000) div {width_us}")


def round6(c: Column) -> Column:
    return F.floor(c * 1e6 + 0.5) / 1e6


def hex_int(hex: Column | str, start: int = 1, width: int = 8) -> Column:
    return F.conv(F.substring(hex, start, width), 16, 10).cast("long")
