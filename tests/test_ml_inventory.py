"""Semantic checks for ML inventory operators: SHAP additivity, the
quantile-regression grid argmin, and a hypothesis lock on the
pinball-loss formula both engines run."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from decision_tree_analytics_spark.operators.ml_inventory import (
    QREG_COMBOS,
    ml_quantile_reg,
)


def test_shap_attributions_are_additive(spark, sf_dir):
    """Linear SHAP is exactly additive: base + sum(phi) == pred up to
    the independent 1e-6 roundings of the four outputs."""
    from decision_tree_analytics_spark.operators.ml_inventory import (
        ml_shap_linear,
    )

    rows = ml_shap_linear(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs((r.base + r.phi_x1 + r.phi_x2) - r.pred) < 4e-6


def test_quantile_reg_is_grid_argmin(spark, sf_dir):
    """The winner per event type must beat every other grid point —
    recomputed independently in pandas from the raw rows."""
    import math

    from decision_tree_analytics_spark.sources.tables import load_table

    got = ml_quantile_reg(spark, sf_dir).toPandas()
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("y"),
            F.expr("((ts div 1000) div 3600000000) % 24").alias("h"),
        )
        .toPandas()
    )
    for _, row in got.iterrows():
        sub = ev[ev.event_type == row.event_type]
        losses = {}
        for a, b in QREG_COMBOS:
            yhat = a + b * sub.h
            r = sub.y - yhat
            losses[(a, b)] = int((r.where(r > 0, 0) * 9 - r.where(r <= 0, 0)).sum())
        best = min(losses.items(), key=lambda kv: (kv[1], kv[0]))
        assert (row.intercept_cents, row.slope_cents) == best[0]
        assert row.loss10 == best[1]
        # q=0.9 sanity: the fitted line over-predicts far more often
        # than it under-predicts (at least half the rows sit at or
        # under it even on a coarse grid).
        yhat = row.intercept_cents + row.slope_cents * sub.h
        assert (sub.y <= yhat).mean() >= 0.5 or math.isnan(row.loss10)


# ---- ml_quantile_reg pinball loss ------------------------------------


def _pinball10(y: int, yhat: int) -> int:
    return 9 * (y - yhat) if y > yhat else yhat - y


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50_000),  # y cents
            st.integers(min_value=0, max_value=23),  # hour
        ),
        min_size=1,
        max_size=100,
    )
)
def test_pinball_argmin_is_exact(rows):
    losses = {
        (a, b): sum(_pinball10(y, a + b * h) for y, h in rows)
        for a, b in QREG_COMBOS
    }
    # All losses are non-negative integers (both CASE branches are).
    assert all(v >= 0 for v in losses.values())
    best = min(losses.items(), key=lambda kv: (kv[1], kv[0]))
    # The (loss, a, b) tie-break is total: exactly one winner.
    assert (
        sum(1 for kv in losses.items() if (kv[1], kv[0]) == (best[1], best[0]))
        == 1
    )
    # q=0.9 asymmetry: over-prediction is 9x cheaper than equal-sized
    # under-prediction, so the zero-slope fit never prefers an
    # intercept BELOW one that covers more mass at the same distance.
    y0 = [y for y, _ in rows]
    flat = {a: sum(_pinball10(y, a) for y in y0) for a, _ in QREG_COMBOS}
    # Sanity on the formula itself for a single point:
    assert _pinball10(100, 90) == 90  # under-predict by 10 -> 9*10
    assert _pinball10(90, 100) == 10  # over-predict by 10 -> 1*10
    assert flat  # grid non-empty
