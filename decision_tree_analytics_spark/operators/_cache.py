"""Cache hygiene for queries that persist intermediates.

Several queries persist a mid-plan table (LSH band/bucket stores,
q26's training features) because the consumer reads it more than
once and Catalyst does not reuse the exchange or scan across the
reads.  The query functions return a *lazy* DataFrame, so they cannot
unpersist in a ``finally``: that would run before the caller's action
and leave the action to recompute the table from its sources.  Left
alone, the cached blocks accumulate for the life of the session when
many queries share one SparkSession (oracle sweeps, bench).

``tether_cache`` ties the cached table's lifetime to the *result*
DataFrame: when the caller drops its last reference to the result
(after collecting it), a ``weakref.finalize`` hook unpersists the
intermediate.  Unpersisting is safe at any point — if the result is
somehow re-executed afterwards the plan simply recomputes.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame


def tether_cache(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Unpersist each ``cached`` DataFrame once ``result`` is
    garbage-collected (i.e. after the caller has consumed it)."""
    jdfs = [c._jdf for c in cached]

    def _release(jdfs=jdfs):
        for j in jdfs:
            try:
                j.unpersist(False)
            except Exception:
                pass  # session already stopped — nothing to free

    weakref.finalize(result, _release)
    return result
