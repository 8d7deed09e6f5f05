"""The Spark-side form of determinism rule 3: round half up at 1e-6.

Builtin ``round()`` differs across engines, so a double that is
compared against the DuckDB oracle is rounded as
``floor(x * 1e6 + 0.5) / 1e6`` on both sides.  Oracles spell the same
expression in their SQL text.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def round6(c: Column) -> Column:
    return F.floor(c * 1e6 + 0.5) / 1e6
