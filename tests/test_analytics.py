"""Semantic checks for analytics operators that their DuckDB oracles
cannot express (the cross-engine equality lives in
tests/test_oracle_queries.py)."""

from __future__ import annotations


def test_assoc_rules_support_and_confidence_bounds(spark, sf_dir):
    """Pair support never exceeds either item support; confidence is
    pair/supp_a in (0, 1]; lift is symmetric in construction, so the
    stored (a < b) orientation must reproduce from the supports."""
    from decision_tree_analytics_spark.operators.analytics import (
        rel_assoc_rules,
    )

    rows = rel_assoc_rules(spark, sf_dir).collect()
    assert rows
    import math

    for r in rows:
        assert r.brand_a < r.brand_b
        assert 1 <= r.pair_supp <= min(r.supp_a, r.supp_b)
        assert 0.0 < r.conf_ab <= 1.0
        want_conf = math.floor(r.pair_supp / r.supp_a * 1e6 + 0.5) / 1e6
        assert r.conf_ab == want_conf
    # top-k ordering: supports descend with the declared tie-break
    key = [(-r.pair_supp, r.brand_a, r.brand_b) for r in rows]
    assert key == sorted(key)
