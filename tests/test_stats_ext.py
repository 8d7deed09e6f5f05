"""Replays and properties for the statistics operators (stats_ext):
each query's statistic recomputed with plain Python/numpy/pandas on the
collected (bounded) inputs, plus hypothesis locks on the integer
formulas both engines run.  The oracle suite proves cross-engine
agreement; these prove the statistic is the TEXTBOOK one, not merely
the same wrong number twice."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from decision_tree_analytics_spark.operators.stats_ext import (
    SPRT_A_MICRO,
    SPRT_B_MICRO,
    SPRT_F_MICRO,
    SPRT_S_MICRO,
    US_PER_DAY,
    ml_brier_decomposition,
    ml_mcc_kappa,
    ml_pr_auc,
    ml_sprt_monitor,
    rel_changepoint,
    rel_cuped,
    rel_did,
    rel_gini,
    rel_mann_kendall,
    rel_theil_sen,
)
from decision_tree_analytics_spark.sources.tables import load_table
from tests.oracle_harness import md5_bucket


def _daily_cents_by_type(spark, sf_dir):
    import math

    import pyspark.sql.functions as F

    from decision_tree_analytics_spark.sources.tables import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            "value",
        )
        .collect()
    )
    daily = {}
    for r in rows:
        k = (r.event_type, r.day)
        daily[k] = daily.get(k, 0) + math.floor(r.value * 100 + 0.5)
    return daily


def test_ewma_trend_matches_python_closed_form(spark, sf_dir):
    import math

    from decision_tree_analytics_spark.operators.stats_ext import (
        EWMA_LOOKBACK,
        rel_ewma_trend,
    )

    got = {
        (r.event_type, r.day): (r.cents, r.ewma_hist, r.dev_ppm)
        for r in rel_ewma_trend(spark, sf_dir).collect()
    }
    assert got
    daily = _daily_cents_by_type(spark, sf_dir)
    for (et, day), cents in daily.items():
        num = den = 0
        for d in range(1, EWMA_LOOKBACK + 1):
            if (et, day - d) in daily:
                w = 3**d * 4 ** (EWMA_LOOKBACK - d)
                num += w * daily[(et, day - d)]
                den += w
        if den == 0:
            assert got[(et, day)] == (cents, None, None)
        else:
            ewma = num / den
            assert got[(et, day)] == (
                cents,
                math.floor(ewma * 1e6 + 0.5) / 1e6,
                math.floor((cents - ewma) / ewma * 1e6 + 0.5),
            )


def test_rolling_ols_matches_python_closed_form(spark, sf_dir):
    import math

    from decision_tree_analytics_spark.operators.stats_ext import (
        OLS_FRAME,
        rel_rolling_ols,
    )

    got = {
        (r.event_type, r.day): (r.cents, r.slope7, r.intercept7)
        for r in rel_rolling_ols(spark, sf_dir).collect()
    }
    assert got
    daily = _daily_cents_by_type(spark, sf_dir)
    series = {}
    for (et, day), cents in sorted(daily.items()):
        series.setdefault(et, []).append((day, cents))
    want = {}
    for et, pts in series.items():
        for i in range(OLS_FRAME - 1, len(pts)):
            frame = pts[i - OLS_FRAME + 1 : i + 1]
            n = len(frame)
            sx = sum(d for d, _ in frame)
            sy = sum(c for _, c in frame)
            sxy = sum(d * c for d, c in frame)
            sxx = sum(d * d for d, _ in frame)
            slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
            inter = (sy - slope * sx) / n
            want[(et, pts[i][0])] = (
                pts[i][1],
                math.floor(slope * 1e6 + 0.5) / 1e6,
                math.floor(inter * 1e6 + 0.5) / 1e6,
            )
    assert got == want


def _daily_cents_total(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        F.expr(f"(ts div 1000) div {US_PER_DAY}").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).alias("cents"),
    )
    pdf = (
        e.groupBy("day")
        .agg(F.sum("cents").cast("long").alias("y"))
        .orderBy("day")
        .toPandas()
    )
    return pdf["day"].to_numpy(), pdf["y"].to_numpy()


def test_gini_matches_textbook_formula(spark, sf_dir):
    out = {r["c_mktsegment"]: r for r in rel_gini(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.floor(F.col("o_totalprice") * 100 + 0.5).alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.groupBy("o_custkey")
        .agg(F.sum("cents").alias("spend"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "spend")
        .toPandas()
    )
    for seg, g in spend.groupby("c_mktsegment"):
        x = np.sort(g["spend"].to_numpy().astype(float))
        n = len(x)
        gini = 2 * np.sum(np.arange(1, n + 1) * x) / (n * x.sum()) - (n + 1) / n
        assert 0.0 <= out[seg]["gini"] < 1.0
        assert abs(out[seg]["gini"] - gini) < 1e-5, seg
        assert out[seg]["n_customers"] == n


def test_theil_sen_matches_numpy_median_of_slopes(spark, sf_dir):
    row = rel_theil_sen(spark, sf_dir).collect()[0]
    days, y = _daily_cents_total(spark, sf_dir)
    x = (days - days.min()).astype(float)
    slopes = [
        (y[j] - y[i]) / (x[j] - x[i])
        for i in range(len(x))
        for j in range(i + 1, len(x))
    ]
    assert row["n_pairs"] == len(slopes)
    assert abs(row["ts_slope_cents_per_day"] - float(np.median(slopes))) < 1e-5
    resid = y - np.median(slopes) * x
    assert abs(row["ts_intercept_cents"] - float(np.median(resid))) < 1.0


def test_changepoint_matches_bruteforce_argmax(spark, sf_dir):
    row = rel_changepoint(spark, sf_dir).collect()[0]
    days, y = _daily_cents_total(spark, sf_dir)
    yd = y / 100.0  # dollars
    nd = len(yd)
    best = max(
        (
            (k * (nd - k) / nd) * (yd[:k].mean() - yd[k:].mean()) ** 2
            for k in range(1, nd)
        ),
    )
    got_k = row["n_left"]
    score = (got_k * (nd - got_k) / nd) * (
        yd[:got_k].mean() - yd[got_k:].mean()
    ) ** 2
    assert abs(score - best) < 1e-6 * max(1.0, best)
    assert row["n_left"] + row["n_right"] == nd
    assert abs(row["gap_score"] - best) < 0.02


def test_mcc_kappa_match_hand_formulas(spark, sf_dir):
    row = ml_mcc_kappa(spark, sf_dir).collect()[0]
    n, tp, fp, fn, tn = row["n"], row["tp"], row["fp"], row["fn"], row["tn"]
    assert tp + fp + fn + tn == n
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert abs(row["mcc"] - mcc) < 1e-5
    assert abs(row["kappa"] - kappa) < 1e-5
    assert -1.0 <= row["mcc"] <= 1.0 and -1.0 <= row["kappa"] <= 1.0


def test_brier_decomposition_identity_and_direct_mean(spark, sf_dir):
    row = ml_brier_decomposition(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.floor(F.col("l_discount") * 100 + 0.5) / 10.0).alias("s"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    ).toPandas()
    direct = float(((li["s"] - li["y"]) ** 2).mean())
    assert abs(row["brier"] - direct) < 1e-5
    # Murphy identity holds up to the reported within-bin residual
    assert (
        abs(
            row["brier"]
            - (row["reliability"] - row["resolution"] + row["uncertainty"])
            - row["decomp_gap"]
        )
        < 1e-5
    )
    assert row["reliability"] >= 0 and row["resolution"] >= 0
    assert 0 <= row["uncertainty"] <= 0.25


def test_learning_curve_matches_numpy_per_fraction(spark, sf_dir):
    from decision_tree_analytics_spark.operators.stats_ext import (
        LC_BUCKETS,
        ml_learning_curve,
    )

    rows = {
        r["frac_16ths"]: r for r in ml_learning_curve(spark, sf_dir).collect()
    }
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("long").alias("x"),
            F.floor(F.col("l_extendedprice") + 0.5).alias("y"),
        )
        .toPandas()
    )
    li["bucket"] = [
        md5_bucket(f"{o}-{l}", LC_BUCKETS)
        for o, l in zip(li["l_orderkey"], li["l_linenumber"])
    ]
    test = li[li["bucket"] == LC_BUCKETS - 1]
    assert len(rows) == LC_BUCKETS - 1
    prev_n = 0
    for k in (1, 8, LC_BUCKETS - 1):
        train = li[li["bucket"] < k]
        b, a = np.polyfit(
            train["x"].to_numpy(float), train["y"].to_numpy(float), 1
        )
        mse = float(
            ((test["y"] - (a + b * test["x"])) ** 2).mean()
        )
        assert rows[k]["n_train"] == len(train)
        assert abs(rows[k]["slope"] - b) < 1e-3
        assert abs(rows[k]["intercept"] - a) < 1.0
        assert abs(rows[k]["test_mse"] - mse) < 1e-3 * max(1.0, mse)
    for k in sorted(rows):
        assert rows[k]["n_train"] > prev_n
        prev_n = rows[k]["n_train"]


def test_threshold_tuning_best_flag_is_argmax_f1(spark, sf_dir):
    from decision_tree_analytics_spark.operators.stats_ext import (
        ml_threshold_tuning,
    )

    rows = ml_threshold_tuning(spark, sf_dir).collect()
    assert len(rows) == 11
    assert sum(r["is_best"] for r in rows) == 1
    for r in rows:
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == rows[0]["tp"] + rows[0][
            "fp"
        ] + rows[0]["fn"] + rows[0]["tn"]
        if r["precision"] is not None and r["recall"] is not None:
            pr = r["precision"] + r["recall"]
            if pr > 0 and r["f1"] is not None:
                hm = 2 * r["precision"] * r["recall"] / pr
                assert abs(r["f1"] - hm) < 1e-4
    best = max(rows, key=lambda r: (r["f1"] or -1, -r["thr_m"]))
    flagged = next(r for r in rows if r["is_best"] == 1)
    assert flagged["f1"] == best["f1"]
    # threshold at 0 predicts everything positive: recall = 1
    all_pos = next(r for r in rows if r["thr_m"] == 0)
    assert all_pos["fn"] == 0 and all_pos["recall"] == 1.0


def test_bootstrap_ci_brackets_point_estimate(spark, sf_dir):
    from decision_tree_analytics_spark.operators.stats_ext import (
        ml_bootstrap_ci,
    )

    rows = ml_bootstrap_ci(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        # the point estimate sits inside (or at worst at) the 90%-ish CI
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"], r
        # replica means concentrate near the point estimate (CLT):
        # half-width well under 20% of the mean at these n
        assert (r["ci_hi"] - r["ci_lo"]) < 0.4 * r["mean_value"]


# ------------------------------------------------------------------
# rel_cuped
# ------------------------------------------------------------------


def test_cuped_theta_pooled_and_means_exact(spark, sf_dir):
    out = rel_cuped(spark, sf_dir).toPandas().set_index("arm")
    assert len(out) == 2
    # theta is the POOLED estimate — identical in both arms
    assert out.loc[0, "theta"] == out.loc[1, "theta"]
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["day"] = ev["ts"] // 1000 // 86400000000
    ev["cents"] = (ev["value"] * 100 + 0.5).map(math.floor)
    p = ev[ev.event_type == "purchase"]
    from decision_tree_analytics_spark.operators.stats_ext import CUPED_CUT_DAY

    per = pd.DataFrame({"user_id": ev.user_id.unique()}).set_index("user_id")
    per["x"] = p[p.day < CUPED_CUT_DAY].groupby("user_id").cents.sum()
    per["y"] = p[p.day >= CUPED_CUT_DAY].groupby("user_id").cents.sum()
    per = per.fillna(0).astype(int).reset_index()
    per["arm"] = per.user_id.map(lambda u: md5_bucket(u, 2))
    for arm, grp in per.groupby("arm"):
        assert out.loc[arm, "n_users"] == len(grp)
        assert out.loc[arm, "mean_y"] == pytest.approx(
            math.floor(grp.y.sum() / len(grp) + 0.5) / 100.0
        )
    # adjusted means move but preserve the overall pooled mean roughly
    # (CUPED is mean-preserving up to quantization per arm mix)
    assert (out["mean_y_adj"] - out["mean_y"]).abs().max() < out["mean_y"].max()


# ------------------------------------------------------------------
# ml_sprt_monitor
# ------------------------------------------------------------------


def test_sprt_replays_in_pandas(spark, sf_dir):
    out = ml_sprt_monitor(spark, sf_dir).toPandas().set_index("arm")
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["day"] = ev["ts"] // 1000 // 86400000000
    ev["arm"] = ev.user_id.map(lambda u: md5_bucket(u, 2))
    ev["x"] = (ev.event_type == "purchase").astype(int)
    for arm, grp in ev.groupby("arm"):
        daily = grp.groupby("day").x.agg(["sum", "count"]).sort_index()
        cs = cf = 0
        stop_day, llr_at = None, None
        for day, row in daily.iterrows():
            cs += int(row["sum"])
            cf += int(row["count"] - row["sum"])
            llr = cs * SPRT_S_MICRO + cf * SPRT_F_MICRO
            if llr >= SPRT_A_MICRO or llr <= SPRT_B_MICRO:
                stop_day, llr_at, n_obs = day, llr, cs + cf
                break
        else:
            stop_day, llr_at, n_obs = day, llr, cs + cf
        assert out.loc[arm, "look_day"] == stop_day
        assert out.loc[arm, "llr_micro"] == llr_at
        assert out.loc[arm, "n_obs"] == n_obs
        want = (
            "accept_h1"
            if llr_at >= SPRT_A_MICRO
            else "accept_h0" if llr_at <= SPRT_B_MICRO else "continue"
        )
        assert out.loc[arm, "decision"] == want


# ------------------------------------------------------------------
# ml_pr_auc
# ------------------------------------------------------------------


def test_pr_auc_replays_in_pandas(spark, sf_dir):
    out = ml_pr_auc(spark, sf_dir).toPandas().sort_values("thr_m", ascending=False)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_discount", "l_returnflag"
    ).toPandas()
    li["dm"] = (li.l_discount * 100 + 0.5).map(math.floor)
    li["y"] = (li.l_returnflag == "R").astype(int)
    grid = (
        li.groupby("dm")
        .agg(n_k=("y", "size"), pos_k=("y", "sum"))
        .sort_index(ascending=False)
    )
    p_tot = int(grid.pos_k.sum())
    tp = fp = 0
    contrib_sum = 0
    rows = []
    for dm, row in grid.iterrows():
        tp += int(row.pos_k)
        fp += int(row.n_k - row.pos_k)
        prec = tp * 1_000_000 // (tp + fp)
        contrib_sum += int(row.pos_k) * prec
        rows.append((dm, tp, fp, prec, tp * 1_000_000 // p_tot))
    ap = contrib_sum // p_tot
    got = list(
        out[["thr_m", "tp", "fp", "prec_micro", "recall_micro"]].itertuples(
            index=False, name=None
        )
    )
    assert got == rows
    assert (out.ap_micro == ap).all()
    # recall at the loosest threshold is exactly 1.0
    assert out.iloc[-1]["recall_micro"] == 1_000_000
    assert 0 < ap <= 1_000_000


# ------------------------------------------------------------------
# rel_power_analysis
# ------------------------------------------------------------------


def test_power_analysis_replays_in_python(spark, sf_dir):
    from decision_tree_analytics_spark.operators.stats_ext import (
        POWER_LIFT_PPM_GRID,
        POWER_Z_ALPHA_MICRO,
        POWER_Z_BETA_MICRO,
        rel_power_analysis,
    )

    out = rel_power_analysis(spark, sf_dir).toPandas().set_index("lift_ppm")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .toPandas()
        .sort_values(["ts", "event_id"])
    )
    first = ev.drop_duplicates("user_id", keep="first")
    n = len(first)
    conv = int((first.event_type == "purchase").sum())
    p = conv / n
    z = (POWER_Z_ALPHA_MICRO + POWER_Z_BETA_MICRO) / 1e6
    for lift_ppm in POWER_LIFT_PPM_GRID:
        lift = lift_ppm / 1e6
        req = z * z * 2.0 * p * (1.0 - p) / (p * lift * (p * lift))
        mde = z * math.sqrt(2.0 * p * (1.0 - p) / (n / 2.0)) / p
        row = out.loc[lift_ppm]
        assert row["n_users"] == n
        assert row["p_micro"] == math.floor(p * 1e6 + 0.5)
        assert row["required_n_per_arm"] == math.floor(req + 0.5)
        assert row["mde_now_ppm"] == math.floor(mde * 1e6 + 0.5)
    # monotone: bigger target lift needs fewer samples
    assert out["required_n_per_arm"].is_monotonic_decreasing


def test_mann_kendall_matches_replay(spark, sf_dir):
    from decision_tree_analytics_spark.sources.tables import load_table

    got = (
        rel_mann_kendall(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("x"))
        .toPandas()
    )
    for et, g in daily.groupby("event_type"):
        xs = list(g.sort_values("day").x)
        n = len(xs)
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        assert got.loc[et, "n_days"] == n
        assert got.loc[et, "s_stat"] == s
        assert got.loc[et, "var18"] == n * (n - 1) * (2 * n + 5)
        assert abs(got.loc[et, "trend_ppm"]) <= 1_000_000


def test_did_matches_pandas_replay(spark, sf_dir):
    from decision_tree_analytics_spark.sources.tables import load_table

    got = (
        rel_did(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("arm"),
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
        .toPandas()
    )
    split = (rows.day.min() + rows.day.max() + 1) // 2
    rows["post"] = (rows.day >= split).astype(int)

    def mean_micro(sub):
        # The sign-split idiom both engines run (ADVICE r11): Spark
        # div truncates and DuckDB // floors on negative numerators,
        # so the division only ever sees abs().
        if not len(sub):
            return None
        s = int(sub.cents.sum())
        return (1 if s >= 0 else -1) * (abs(s) * 10_000 // len(sub))

    for et, g in rows.groupby("event_type"):
        cells = {
            (a, p): mean_micro(g[(g.arm == a) & (g.post == p)])
            for a in (0, 1)
            for p in (0, 1)
        }
        want = (cells[(1, 1)] - cells[(1, 0)]) - (
            cells[(0, 1)] - cells[(0, 0)]
        )
        assert got.loc[et, "did_micro"] == want
        assert got.loc[et, "pre_ctrl_micro"] == cells[(0, 0)]


# ---- rel_mann_kendall statistic --------------------------------------


def _mk(xs: list[int]) -> tuple[int, int]:
    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    return s, n * (n - 1) // 2


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=2, max_size=40))
def test_mann_kendall_bounds_and_sign(xs):
    s, n_pairs = _mk(xs)
    assert -n_pairs <= s <= n_pairs
    # The ppm normalization both engines compute: sign-split keeps
    # every division positive (Spark div truncates, DuckDB // floors
    # on negatives — they only agree on non-negative numerators).
    trend = (-1 if s < 0 else 1) * (abs(s) * 1_000_000 // n_pairs)
    assert -1_000_000 <= trend <= 1_000_000
    # Strictly increasing series saturate at +1e6; decreasing at -1e6;
    # constant series at exactly 0.
    if all(a < b for a, b in zip(xs, xs[1:])):
        assert trend == 1_000_000
    if all(a > b for a, b in zip(xs, xs[1:])):
        assert trend == -1_000_000
    if len(set(xs)) == 1:
        assert s == 0 and trend == 0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=100), min_size=2, max_size=25))
def test_mann_kendall_antisymmetry(xs):
    s_fwd, _ = _mk(xs)
    s_rev, _ = _mk(list(reversed(xs)))
    assert s_fwd == -s_rev
