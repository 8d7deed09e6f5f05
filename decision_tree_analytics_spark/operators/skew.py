"""Skew-mitigation utilities.

AQE's skew-join splitting covers joins; for *aggregations* over
heavily-skewed keys (the classic: one user/domain owns 10% of a
100 TB event stream) the fix is two-phase salted aggregation.  This
module provides the generic combinator — algebraic aggregates only
(sum/count/min/max), which re-combine exactly.

Not part of the oracle inventory (it computes the same answer as a
plain groupBy, just with a different shuffle shape); equivalence is
locked by tests/test_skew.py.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation: phase 1 groups on (keys + random salt)
    so a hot key spreads over ``n_salts`` reducers; phase 2 re-combines
    the partials on the true keys.

    ``aggs``: output_col -> (input_col, fn) with fn ∈ {sum,count,min,max}.
    The phase-2 re-combiner for count is sum; min/max/sum are idempotent
    under re-application.
    """
    recombine = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for out, (_, fn) in aggs.items():
        if fn not in recombine:
            raise ValueError(f"{fn} is not algebraic; salted_agg supports {sorted(recombine)}")

    salted = df.withColumn("__salt__", (F.rand(seed=42) * n_salts).cast("int"))
    phase1 = salted.groupBy(*keys, "__salt__").agg(
        *[getattr(F, fn)(col).alias(out) for out, (col, fn) in aggs.items()]
    )
    phase2 = phase1.groupBy(*keys).agg(
        *[
            getattr(F, recombine[fn])(out).alias(out)
            for out, (_, fn) in aggs.items()
        ]
    )
    return phase2


def hot_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    hot_keys: DataFrame,
    fact_salt: Column,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join where ONLY the hot keys fan out over salts.

    Blanket salting (skew_salted_join's shape) replicates the WHOLE
    dim ``n_salts`` times — fine while the dim is small, but the
    replication cost is O(|dim| x n_salts), and at large dim
    cardinality it swamps the win: measured at 50M facts / ~5M dim
    keys, the blanket-salted join is no faster than the stuck reducer
    unless AQE re-splits it (BASELINE.md skew table, second decade).
    The production form replicates only the keys that are actually
    hot: ``hot_keys`` is a BOUNDED one-column DataFrame (keys above a
    frequency threshold — at most corpus/threshold keys can exceed
    it, so the broadcast is bounded by construction); cold keys keep
    salt 0 and a single dim row, hot keys fan out over ``n_salts``
    reducers.  Both sides tag hotness via the same broadcast, so the
    pre-salting adds NO shuffle of its own.

    ``fact_salt`` must be content-derived (e.g. pmod(event_id, n)),
    never rand(): the join stays referentially deterministic
    (determinism rule 6) and re-executions of a lost task salt
    identically.
    """
    hot = F.broadcast(
        hot_keys.select(key).distinct().withColumn("__hot__", F.lit(True))
    )
    f = (
        fact.join(hot, key, "left")
        .withColumn(
            "__salt__",
            # coalesce: a NULL fact_salt (null source column) must
            # land on salt 0, not produce a NULL join key that
            # silently drops the row from an equi-join the function
            # is documented to equal exactly.
            F.when(
                F.col("__hot__"),
                F.coalesce(F.pmod(fact_salt, F.lit(n_salts)), F.lit(0)),
            ).otherwise(F.lit(0)),
        )
        .drop("__hot__")
    )
    d = (
        dim.join(hot, key, "left")
        .withColumn(
            "__salt__",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.when(F.col("__hot__"), F.lit(n_salts - 1)).otherwise(
                        F.lit(0)
                    ),
                )
            ),
        )
        .drop("__hot__")
    )
    return f.join(d, [key, "__salt__"]).drop("__salt__")


# ---- contract queries -------------------------------------------------

N_JOIN_SALTS = 16
HEAVY_USER_EVENTS = 67


def skew_salted_join(spark, sf_dir):
    """Salted fact⋈dim join — the shuffle-skew mitigation pattern as
    an oracled contract query: enrich each event with its user's
    activity count, then re-aggregate into (event_type, user_tier).

    A plain key join hash-partitions the fact on user_id, so one hot
    user lands on one reducer (the 100 TB failure mode AQE's skew
    splitting only fixes for sort-merge inputs it can see).  Salting
    pre-spreads it: the dim side replicates across N_JOIN_SALTS
    explicit salt values, the fact side computes a deterministic salt
    (event_id % N), and the join key becomes (user_id, salt) — every
    hot user fans out over N reducers by construction.  The salt is
    content-derived (not rand()) so the query stays referentially
    deterministic; the result is salt-invariant either way, which is
    exactly what the DuckDB oracle (a plain unsalted join) checks.

    At this SF the replicated dim still broadcasts (AQE's call —
    fine); at 100 TB it shuffle-joins on the salted key and the
    pattern is the difference between a stuck reducer and an even
    fan-out."""
    from decision_tree_analytics_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
    dim_rep = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_JOIN_SALTS - 1)))
    )
    fact = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.pmod("event_id", F.lit(N_JOIN_SALTS)).alias("salt"),
    )
    tier = (
        F.when(F.col("user_events") >= HEAVY_USER_EVENTS, "heavy")
        .otherwise("light")
        .alias("user_tier")
    )
    return (
        fact.join(dim_rep, ["user_id", "salt"])
        .groupBy("event_type", tier)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


QUERIES = {"skew_salted_join": skew_salted_join}

ORACLES = {
    "skew_salted_join": (
        "WITH dim AS (SELECT user_id, COUNT(*) AS user_events"
        "   FROM events GROUP BY 1)"
        " SELECT event_type,"
        f" CASE WHEN user_events >= {HEAVY_USER_EVENTS}"
        "   THEN 'heavy' ELSE 'light' END AS user_tier,"
        " CAST(COUNT(*) AS BIGINT) AS n_events"
        " FROM events JOIN dim USING (user_id)"
        " GROUP BY 1, 2"
    ),
}
