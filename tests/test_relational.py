"""Replays and invariants for relational operators: each statistic is
recomputed in plain Python/pandas from the collected (bounded)
inputs.  The oracle suite proves the engines agree; these prove the
number is the textbook one."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from decision_tree_analytics_spark.sources.tables import load_table


def test_gaps_islands_streaks_partition_active_days(spark, sf_dir):
    """Streaks partition the active days (sum of lengths = active-day
    count) and equal a pure-Python rerun on the same distinct days."""
    import pyspark.sql.functions as F

    from decision_tree_analytics_spark.operators.relational import (
        rel_gaps_islands,
    )
    from decision_tree_analytics_spark.sources.tables import load_table

    got = {
        r.user_id: (
            r.n_active_days,
            r.n_streaks,
            r.longest_streak,
            r.longest_start_day,
        )
        for r in rel_gaps_islands(spark, sf_dir).collect()
    }
    assert got

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.expr("ts div 1000 div 86400000000").alias("day"))
        .distinct()
        .collect()
    )
    days = {}
    for r in ev:
        days.setdefault(r.user_id, set()).add(r.day)
    want = {}
    for u, ds in days.items():
        ds = sorted(ds)
        streaks = [[ds[0], 1]]
        for prev, cur in zip(ds, ds[1:]):
            if cur == prev + 1:
                streaks[-1][1] += 1
            else:
                streaks.append([cur, 1])
        longest = min((-ln, st) for st, ln in streaks)
        want[u] = (len(ds), len(streaks), -longest[0], longest[1])
    assert got == want


def test_funnel_latency_matches_pandas_replay(spark, sf_dir):
    from decision_tree_analytics_spark.operators.relational import (
        rel_funnel_latency,
    )

    row = rel_funnel_latency(spark, sf_dir).collect()[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.expr("ts div 1000").alias("t"))
        .toPandas()
    )
    lat = []
    for _, g in ev.groupby("user_id"):
        s = g.loc[g["event_type"] == "signup", "t"]
        if s.empty:
            continue
        t0 = s.min()
        p = g.loc[(g["event_type"] == "purchase") & (g["t"] > t0), "t"]
        if not p.empty:
            lat.append(int(p.min() - t0))
    assert row["n_converted"] == len(lat)
    assert row["min_us"] == min(lat) and row["max_us"] == max(lat)
    assert abs(row["p50_us"] - float(np.percentile(lat, 50))) < 1.0
