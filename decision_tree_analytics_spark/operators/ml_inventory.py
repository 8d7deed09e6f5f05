"""ML operator queries for the driver contract (SURVEY §2.4 Q25–Q26).

Q25 — feature assembly with the null≡0.0 contract, verified against a
pure-SQL oracle (vector size + nnz are SQL-expressible even though the
vector itself is not).

Q26 — decision-tree train + predict in one query (the reference's
whole purpose), rows-only checked by the driver; exact golden parity
is pinned in tests/test_ml_pipeline.py on the flight fixture.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml.functions import vector_to_array
from pyspark.ml.regression import DecisionTreeRegressor
from pyspark.sql import Column, DataFrame, SparkSession, Window

from decision_tree_analytics_spark.ml.features import FEATURES_COL, assemble_features
from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators._loop import checkpoint, iterate
from decision_tree_analytics_spark.operators._parts import spread
from decision_tree_analytics_spark.operators._rules import (
    US_PER_HOUR,
    hex_int,
    round6,
    ts_bucket,
)
from decision_tree_analytics_spark.sources.tables import load_table

_FEATURES = {"l_quantity": 0, "l_discount": 1, "l_tax": 2}


def q25_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    assembled = assemble_features(li, _FEATURES)
    arr = vector_to_array(F.col(FEATURES_COL))
    return assembled.select(
        "l_orderkey",
        "l_linenumber",
        F.lit(3).cast("long").alias("vec_size"),
        F.size(F.filter(arr, lambda x: x != 0.0)).cast("long").alias("vec_nnz"),
    )


def q26_dt_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a variance-impurity tree (price ~ quantity/discount/tax)
    and score the same table — the reference's O4–O12 dataflow fused
    into one DataFrame plan.

    Scale: the fit aggregates per-level split statistics (maxBins
    bounds the state); scoring is a JVM-side broadcast-model map.
    The cache holds ONLY the 4 columns the fit/score loop reads
    (keys + vector + label), not the 16-column lineitem row — the
    projection prunes the parquet scan and every per-level pass
    (~25% faster at sf0.1, and the gap widens with row width).
    That projection is spread over every core before it is cached
    (see ``_fit_price_model``): at sf0.1, a one-file table, q26 went
    from 3.4-3.7 s to 3.1-3.2 s on 4 cores.  At sf1 lineitem already
    arrives one partition per core and the spread is no faster
    (9.7-10.8 s before, 10.8-11.0 s after).
    The cache is tethered to the result (``tether_cache``), so the
    caller's scoring action reads it too instead of re-reading
    lineitem and rebuilding the features.
    """
    return _fit_price_model(
        spark,
        sf_dir,
        DecisionTreeRegressor(
            featuresCol=FEATURES_COL,
            labelCol="label",
            impurity="variance",
            maxDepth=5,
            maxBins=64,
            seed=12345,
        ),
    )


def _fit_price_model(spark: SparkSession, sf_dir: str, estimator) -> DataFrame:
    """Fit ``estimator`` (features in FEATURES_COL, label
    l_extendedprice) on lineitem and score the same rows as
    (l_orderkey, l_linenumber, predicted_price), the cached 4-column
    projection tethered to the result.  The 6-column projection is
    hash-spread on (l_orderkey, l_linenumber) over every core before
    assembly, so the cache holds one partition per core: the fit's
    passes and the scoring that reads the tethered cache run one task
    per core instead of one task over a single-file table."""
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_extendedprice", *_FEATURES
        ),
        "l_orderkey",
        "l_linenumber",
    )
    assembled = (
        assemble_features(li, _FEATURES)
        .select(
            "l_orderkey",
            "l_linenumber",
            FEATURES_COL,
            F.col("l_extendedprice").alias("label"),
        )
        .cache()
    )
    model = estimator.fit(assembled.select(FEATURES_COL, "label"))
    result = (
        model.setPredictionCol("predicted_price")
        .transform(assembled)
        .select("l_orderkey", "l_linenumber", "predicted_price")
    )
    return tether_cache(result, assembled)


# Fixed per-feature split-candidate grids (the bounded-bins move
# MLlib's maxBins makes), interior to each feature's data range.
FI_GRIDS = {
    "l_quantity": tuple(float(t) for t in range(5, 50, 5)),
    "l_discount": tuple(t / 100.0 for t in range(1, 10)),
    "l_tax": tuple(t / 100.0 for t in range(1, 8)),
}


def ml_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-gain feature importances of the Q26 price model,
    fully DuckDB-oracled — the explainability readout (which split
    variables actually drive extendedprice), computed as deterministic
    depth-1 split gains instead of introspecting an engine-internal
    MLlib tree (which forced a rows-only check until round 5).

    For each declared feature the best single split over a FIXED
    candidate grid is found in ONE corpus pass: every candidate
    contributes 4 mergeable conditional partials (sum/count of the
    label left and right), the gain is the between-group sum of
    squares over the root SS — the same variance-impurity improvement
    MLlib's regression tree maximizes at its root — and importances
    normalize the per-feature gains.  Cross-engine: per-candidate
    scores round 1e-6 BEFORE greatest()/argmax (ascending-candidate
    tie-break via coalesce order), empty split sides go NULL via
    nullif (greatest skips NULLs identically in both engines), and
    the normalizing sum is written as the same 3-term expression tree
    on both sides.  Map-side combine collapses the shuffle to one
    row; the 3-row readout is a stack of that row — no driver-side
    model object."""
    li = load_table(spark, sf_dir, "lineitem").select(
        *[F.col(f).cast("double").alias(f) for f in FI_GRIDS],
        F.col("l_extendedprice").alias("y"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
    ]
    for f, grid in FI_GRIDS.items():
        for i, t in enumerate(grid):
            left = F.when(F.col(f) <= t, F.col("y"))
            right = F.when(F.col(f) > t, F.col("y"))
            aggs += [
                F.sum(left).alias(f"sl_{f}_{i}"),
                F.count(left).alias(f"cl_{f}_{i}"),
                F.sum(right).alias(f"sr_{f}_{i}"),
                F.count(right).alias(f"cr_{f}_{i}"),
            ]
    g = li.agg(*aggs)

    # Scores at PER-ROW (variance) scale — dividing the between-group
    # SS by n keeps magnitudes ~var(y) so floor(x*1e6+0.5) stays far
    # from BIGINT overflow (raw SS ~1e13 would push the 1e-6 round
    # past 2^63); the 1/n factor cancels in the importance ratio.
    def score(f: str, i: int) -> Column:
        return round6(
            (
                F.col(f"sl_{f}_{i}") * F.col(f"sl_{f}_{i}")
                / F.nullif(F.col(f"cl_{f}_{i}"), F.lit(0)).cast("double")
                + F.col(f"sr_{f}_{i}") * F.col(f"sr_{f}_{i}")
                / F.nullif(F.col(f"cr_{f}_{i}"), F.lit(0)).cast("double")
            )
            / F.col("n").cast("double")
        )

    root = round6(
        F.col("s") * F.col("s")
        / F.col("n").cast("double")
        / F.col("n").cast("double")
    )
    per_feature = {}
    for f, grid in FI_GRIDS.items():
        best = F.greatest(*[score(f, i) for i in range(len(grid))])
        thr = F.coalesce(
            *[
                F.when(score(f, i) == best, F.lit(t))
                for i, t in enumerate(grid)
            ]
        )
        per_feature[f] = (thr, round6(best - root))
    wide = g.select(
        *[v[0].alias(f"bt_{f}") for f, v in per_feature.items()],
        *[v[1].alias(f"gain_{f}") for f, v in per_feature.items()],
    )
    total = F.nullif(
        F.col("gain_l_quantity")
        + F.col("gain_l_discount")
        + F.col("gain_l_tax"),
        F.lit(0.0),
    )
    wide = wide.select(
        "*",
        *[
            round6(F.col(f"gain_{f}") / total).alias(f"imp_{f}")
            for f in FI_GRIDS
        ],
    )
    stack = ", ".join(
        f"'{f}', CAST({_FEATURES[f]} AS BIGINT), bt_{f}, gain_{f}, imp_{f}"
        for f in FI_GRIDS
    )
    return wide.select(
        F.expr(
            f"stack({len(FI_GRIDS)}, {stack})"
            " AS (feature, feature_idx, best_threshold, gain, importance)"
        )
    )


def _fi_oracle() -> str:
    r6 = lambda s: f"floor(({s}) * 1e6 + 0.5) / 1e6"  # noqa: E731
    partials = []
    for f, grid in FI_GRIDS.items():
        for i, t in enumerate(grid):
            partials += [
                f"sum(CASE WHEN {f} <= {t!r} THEN y END) AS sl_{f}_{i}",
                f"count(CASE WHEN {f} <= {t!r} THEN y END) AS cl_{f}_{i}",
                f"sum(CASE WHEN {f} > {t!r} THEN y END) AS sr_{f}_{i}",
                f"count(CASE WHEN {f} > {t!r} THEN y END) AS cr_{f}_{i}",
            ]

    def score(f: str, i: int) -> str:
        return r6(
            f"(sl_{f}_{i} * sl_{f}_{i}"
            f" / CAST(nullif(cl_{f}_{i}, 0) AS DOUBLE)"
            f" + sr_{f}_{i} * sr_{f}_{i}"
            f" / CAST(nullif(cr_{f}_{i}, 0) AS DOUBLE))"
            " / CAST(n AS DOUBLE)"
        )

    root = r6("s * s / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)")
    feats = list(FI_GRIDS)
    b_cols = ", ".join(
        "greatest("
        + ", ".join(score(f, i) for i in range(len(FI_GRIDS[f])))
        + f") AS best_{f}"
        for f in feats
    )
    w_parts = []
    for f in feats:
        # CAST each literal to DOUBLE: bare numerics type the COALESCE
        # DECIMAL(4,2) in DuckDB while Spark emits DOUBLE (ADVICE r5).
        thr = "COALESCE(" + ", ".join(
            f"CASE WHEN {score(f, i)} = best_{f}"
            f" THEN CAST({t!r} AS DOUBLE) END"
            for i, t in enumerate(FI_GRIDS[f])
        ) + ")"
        w_parts.append(f"{thr} AS bt_{f}")
        w_parts.append(f"{r6(f'best_{f} - ({root})')} AS gain_{f}")
    w_cols = ", ".join(w_parts)
    total = "nullif(" + " + ".join(f"gain_{f}" for f in feats) + ", 0.0)"
    rows = " UNION ALL ".join(
        f"SELECT '{f}' AS feature, CAST({_FEATURES[f]} AS BIGINT)"
        f" AS feature_idx, bt_{f} AS best_threshold, gain_{f} AS gain,"
        f" {r6(f'gain_{f} / {total}')} AS importance FROM w"
        for f in feats
    )
    return (
        "WITH d AS (SELECT"
        " CAST(l_quantity AS DOUBLE) AS l_quantity,"
        " CAST(l_discount AS DOUBLE) AS l_discount,"
        " CAST(l_tax AS DOUBLE) AS l_tax,"
        " l_extendedprice AS y FROM lineitem),"
        f" a AS (SELECT count(*) AS n, sum(y) AS s, {', '.join(partials)}"
        " FROM d),"
        f" b AS (SELECT *, {b_cols} FROM a),"
        f" w AS (SELECT *, {w_cols} FROM b)"
        f" {rows}"
    )


def ml_rf_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-forest ensemble of the Q26 regression (20 trees,
    sqrt-feature subsampling) — the standard variance-reduction
    upgrade of the reference's single tree.

    Same distributed shape as Q26: one cached 4-column projection,
    per-level histogram aggregation (now over bootstrapped trees — the
    fit shares one pass per level across all trees), and JVM-side
    broadcast-model scoring.  Rows-only under the driver (ensemble
    structure is engine-specific); determinism under the fixed seed
    plus the ensemble-beats-single-tree property are pinned in
    tests/test_ml_pipeline.py."""
    from pyspark.ml.regression import RandomForestRegressor

    return _fit_price_model(
        spark,
        sf_dir,
        RandomForestRegressor(
            featuresCol=FEATURES_COL,
            labelCol="label",
            impurity="variance",
            numTrees=20,
            featureSubsetStrategy="sqrt",
            maxDepth=5,
            maxBins=64,
            seed=12345,
        ),
    )


def ml_baseline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation harness under the full oracle: a deterministic
    baseline regressor (train-split per-returnflag mean price) scored
    on the held-out split with RMSE / MAE / R² — the metrics pipeline
    every model run reports, demonstrated on a model simple enough for
    SQL so the harness itself is hash-verified (MLlib models plug into
    the same shape rows-only).

    Split = ml_split_assign's content-hash buckets on l_orderkey
    (train <8, test =9).  Two aggregate passes: per-group means over
    the train split (|groups| rows, broadcast back), then one metrics
    reduction over the test split."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", F.col("l_extendedprice").alias("y")
    )
    bucket = hex_int(F.md5(F.col("l_orderkey").cast("string"))) % 10
    b = li.withColumn("bucket", bucket)
    means = (
        b.filter(F.col("bucket") < 8)
        .groupBy("l_returnflag")
        .agg(F.avg("y").alias("yhat"))
    )
    test = b.filter(F.col("bucket") == 9).join(F.broadcast(means), "l_returnflag")
    r2 = lambda c: F.floor(c * 1e2 + 0.5) / 1e2  # noqa: E731  (1e-2: ~1e4 magnitudes)
    ybar = F.avg("y")
    sse = F.sum((F.col("y") - F.col("yhat")) ** 2)
    sst = F.sum(F.col("y") ** 2) - F.count(F.lit(1)) * ybar * ybar
    return test.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        r2(F.sqrt(sse / F.count(F.lit(1)))).alias("rmse"),
        r2(F.avg(F.abs(F.col("y") - F.col("yhat")))).alias("mae"),
        round6(F.lit(1.0) - sse / sst).alias("r2"),
    )


def ml_cv_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection under the full oracle: three candidate price
    models of increasing granularity (global mean, per-returnflag
    mean, per-returnflag×linestatus mean) are fit on the train split,
    scored on the validation split, ranked by val RMSE, and the
    winner alone reports its held-out test RMSE — the grid-search /
    cross-validation harness every training pipeline runs,
    demonstrated on SQL-expressible models so the selection logic
    itself is hash-verified (MLlib grids plug into the same shape
    rows-only).

    Splits are ml_split_assign's content-hash buckets (train <7,
    val 7-8, test 9) — no engine-seeded randomness.  Scale: each fit
    is a bounded-group aggregate broadcast back onto one scan of its
    split; the selection window runs over 3 rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus",
        F.col("l_extendedprice").alias("y"),
    )
    bucket = hex_int(F.md5(F.col("l_orderkey").cast("string"))) % 10
    b = li.withColumn("bucket", bucket).persist()
    train = b.filter(F.col("bucket") < 7)
    val = b.filter((F.col("bucket") >= 7) & (F.col("bucket") <= 8))
    test = b.filter(F.col("bucket") == 9)

    m0 = train.agg(F.avg("y").alias("yhat"))
    m1 = train.groupBy("l_returnflag").agg(F.avg("y").alias("yhat"))
    m2 = train.groupBy("l_returnflag", "l_linestatus").agg(
        F.avg("y").alias("yhat")
    )

    def _rmse(split: DataFrame, model: DataFrame, keys: list, mid: str):
        if keys:
            scored = split.join(F.broadcast(model), keys)
        else:
            scored = split.crossJoin(F.broadcast(model))
        return scored.agg(
            F.lit(mid).alias("model_id"),
            F.sqrt(F.avg((F.col("y") - F.col("yhat")) ** 2)).alias("rmse"),
        )

    r2 = lambda c: F.floor(c * 1e2 + 0.5) / 1e2  # noqa: E731  (~1e4 magnitudes)
    vals = (
        _rmse(val, m0, [], "global_mean")
        .unionByName(_rmse(val, m1, ["l_returnflag"], "by_returnflag"))
        .unionByName(
            _rmse(val, m2, ["l_returnflag", "l_linestatus"], "by_flag_status")
        )
        .select("model_id", r2(F.col("rmse")).alias("val_rmse"))
    )
    tests = (
        _rmse(test, m0, [], "global_mean")
        .unionByName(_rmse(test, m1, ["l_returnflag"], "by_returnflag"))
        .unionByName(
            _rmse(test, m2, ["l_returnflag", "l_linestatus"], "by_flag_status")
        )
        .select("model_id", r2(F.col("rmse")).alias("t_rmse"))
    )
    w = Window.orderBy("val_rmse", "model_id")
    ranked = vals.withColumn("rank", F.row_number().over(w).cast("long"))
    result = ranked.join(tests, "model_id").select(
        "model_id",
        "val_rmse",
        "rank",
        F.when(F.col("rank") == 1, F.col("t_rmse")).alias("test_rmse"),
    )
    return tether_cache(result, b)


_CV_SQL = """
WITH li AS (SELECT l_returnflag, l_linestatus, l_extendedprice AS y,
   ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10
     AS bucket FROM lineitem),
train AS (SELECT * FROM li WHERE bucket < 7),
val AS (SELECT * FROM li WHERE bucket BETWEEN 7 AND 8),
test AS (SELECT * FROM li WHERE bucket = 9),
m0 AS (SELECT avg(y) AS yhat FROM train),
m1 AS (SELECT l_returnflag, avg(y) AS yhat FROM train GROUP BY 1),
m2 AS (SELECT l_returnflag, l_linestatus, avg(y) AS yhat FROM train
  GROUP BY 1, 2),
vals AS (
  SELECT 'global_mean' AS model_id,
    floor(sqrt(avg((y - yhat) * (y - yhat))) * 1e2 + 0.5) / 1e2 AS val_rmse
  FROM val CROSS JOIN m0
  UNION ALL
  SELECT 'by_returnflag',
    floor(sqrt(avg((y - yhat) * (y - yhat))) * 1e2 + 0.5) / 1e2
  FROM val JOIN m1 USING (l_returnflag)
  UNION ALL
  SELECT 'by_flag_status',
    floor(sqrt(avg((y - yhat) * (y - yhat))) * 1e2 + 0.5) / 1e2
  FROM val JOIN m2 USING (l_returnflag, l_linestatus)),
tests AS (
  SELECT 'global_mean' AS model_id,
    floor(sqrt(avg((y - yhat) * (y - yhat))) * 1e2 + 0.5) / 1e2 AS t_rmse
  FROM test CROSS JOIN m0
  UNION ALL
  SELECT 'by_returnflag',
    floor(sqrt(avg((y - yhat) * (y - yhat))) * 1e2 + 0.5) / 1e2
  FROM test JOIN m1 USING (l_returnflag)
  UNION ALL
  SELECT 'by_flag_status',
    floor(sqrt(avg((y - yhat) * (y - yhat))) * 1e2 + 0.5) / 1e2
  FROM test JOIN m2 USING (l_returnflag, l_linestatus)),
ranked AS (SELECT model_id, val_rmse,
  CAST(row_number() OVER (ORDER BY val_rmse, model_id) AS BIGINT) AS rank
  FROM vals)
SELECT model_id, val_rmse, rank,
  CASE WHEN rank = 1 THEN t_rmse END AS test_rmse
FROM ranked JOIN tests USING (model_id)
"""


GD_ITERS = 5
GD_LR = 5.0


def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-oracled iterative trainer: batch-gradient-descent
    logistic regression (label<5 vs embedding dims 1-4), GD_ITERS
    unrolled full-batch steps at lr=GD_LR from w=0.

    Unlike the MLlib trainers (q26/ml_rf — engine-internal, rows-only
    checked), every step here is a plain aggregate, so the whole
    training run is SQL-expressible and the DuckDB oracle replays it
    exactly.  Each step is one scan of the cached feature projection
    + a 1-row broadcast of the current weights: gradients are
    mergeable averages (map-side combine does the work, the shuffle
    carries one row), which is how full-batch GD actually scales —
    iterations × one-pass aggregates, never a driver-side loop over
    rows.  Output: n, final weights, training log-loss (all smooth
    functions of row-order-independent sums → 1e-6 rounding holds
    across engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        F.when(F.col("label") < 5, 1.0).otherwise(0.0).alias("y"),
        *[
            F.col("embedding").getItem(i).cast("double").alias(f"x{i + 1}")
            for i in range(4)
        ],
    ).persist()
    w = spark.range(1).select(
        *[F.lit(0.0).alias(f"w{j}") for j in range(5)]
    )
    margin = (
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
        + F.col("w4") * F.col("x4")
    )
    for _ in range(GD_ITERS):
        j = feats.crossJoin(F.broadcast(w)).withColumn(
            "p", 1.0 / (1.0 + F.exp(-margin))
        )
        err = F.col("p") - F.col("y")
        w = j.agg(
            (F.max("w0") - GD_LR * F.avg(err)).alias("w0"),
            *[
                (
                    F.max(f"w{k}") - GD_LR * F.avg(err * F.col(f"x{k}"))
                ).alias(f"w{k}")
                for k in range(1, 5)
            ],
        )
    final = feats.crossJoin(F.broadcast(w)).withColumn(
        "p", 1.0 / (1.0 + F.exp(-margin))
    )
    result = final.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[round6(F.max(f"w{j}")).alias(f"w{j}") for j in range(5)],
        round6(
            F.avg(
                -(
                    F.col("y") * F.log("p")
                    + (1.0 - F.col("y")) * F.log(1.0 - F.col("p"))
                )
            )
        ).alias("log_loss"),
    )
    return tether_cache(result, feats)


def _logreg_oracle() -> str:
    margin = "w0 + w1*x1 + w2*x2 + w3*x3 + w4*x4"
    parts = [
        "WITH d AS (SELECT CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y,"
        " embedding[1]::DOUBLE AS x1, embedding[2]::DOUBLE AS x2,"
        " embedding[3]::DOUBLE AS x3, embedding[4]::DOUBLE AS x4"
        " FROM embeddings),"
        " it0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,"
        " 0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3, 0.0::DOUBLE AS w4)"
    ]
    for i in range(1, GD_ITERS + 1):
        grads = ", ".join(
            f"max(w{k}) - {GD_LR} * avg((p - y) * x{k}) AS w{k}"
            for k in range(1, 5)
        )
        parts.append(
            f", it{i} AS (SELECT max(w0) - {GD_LR} * avg(p - y) AS w0, {grads}"
            f" FROM (SELECT *, 1.0/(1.0 + exp(-({margin}))) AS p"
            f" FROM d CROSS JOIN it{i - 1}))"
        )
    ws = ", ".join(
        f"floor(max(w{j}) * 1e6 + 0.5) / 1e6 AS w{j}" for j in range(5)
    )
    parts.append(
        f" SELECT CAST(count(*) AS BIGINT) AS n, {ws},"
        " floor(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) * 1e6 + 0.5)"
        " / 1e6 AS log_loss"
        f" FROM (SELECT *, 1.0/(1.0 + exp(-({margin}))) AS p"
        f" FROM d CROSS JOIN it{GD_ITERS})"
    )
    return "".join(parts)


def ml_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMeans/IVF *assignment step* under the full oracle: class
    centroids (per-label mean vectors) are computed once, broadcast,
    and every corpus vector is assigned to its nearest centroid by
    squared euclidean distance — per-centroid counts and mean distance
    come back as the 10-row readout.

    This is the hash-verified companion to the rows-only
    ``sim_ivf_topk`` (engine-seeded KMeans): the centroid table here
    is a deterministic aggregate, so DuckDB replays the whole
    assignment.  Scale: centroid build is an exploded (label, dim)
    aggregate — 64·|labels| rows of mergeable partials; assignment is
    map-only (broadcast 10×64 table, zip_with distance per row, min
    over a 10-element struct — no corpus shuffle); the readout
    shuffles |labels| keys.  Distances rounded 1e-6 before the
    argmin, label ascending as tie-break."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = (
        emb.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "cx"))),
                lambda s: s.getField("cx"),
            ).alias("cv")
        )
    )
    dist = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = emb.crossJoin(
        F.broadcast(cent.select(F.col("label").alias("c_label"), "cv"))
    ).select("vec_id", "c_label", round6(dist).alias("dist"))
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "c_label")).alias("m")
    )
    return (
        best.select(F.col("m.c_label").alias("centroid"), F.col("m.dist").alias("d"))
        .groupBy("centroid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            round6(F.avg("d")).alias("avg_dist"),
        )
    )


_CENTROID_SQL = """
WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
    generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
  FROM embeddings),
cent AS (SELECT label AS c_label, i, avg(x) AS cx FROM e GROUP BY 1, 2),
dists AS (
  SELECT e.vec_id, c.c_label,
    floor(sum((e.x - c.cx) * (e.x - c.cx)) * 1e6 + 0.5) / 1e6 AS dist
  FROM e JOIN cent c ON c.i = e.i
  GROUP BY 1, 2),
best AS (
  SELECT vec_id, c_label, dist,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
  FROM dists)
SELECT c_label AS centroid, CAST(count(*) AS BIGINT) AS n_assigned,
  floor(avg(dist) * 1e6 + 0.5) / 1e6 AS avg_dist
FROM best WHERE rn = 1 GROUP BY 1
"""


NB_VOCAB = 64  # bounded model: top-N train tokens (CCNet-style cap)


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-oracled multinomial Naive Bayes language classifier:
    train on a content-hash split of ``documents`` (md5 buckets < 8),
    predict ``lang`` for the held-out docs, return the confusion
    matrix.  Like ml_logreg_gd, TRAINING itself is hash-verified —
    the whole model is two aggregates, so DuckDB replays it exactly.

    Scale: the model is bounded by construction — vocabulary is the
    top-``NB_VOCAB`` train tokens (Heaps' law means an uncapped vocab
    grows with the corpus; the cap is what makes the |langs|×|vocab|
    grid broadcastable at any corpus size, same fix as
    ns_perplexity_proxy).  Token counting is explode + groupBy with
    map-side partials; scoring is a broadcast join of the ≤ 5×64-row
    model against per-doc token counts; Laplace-smoothed log-probs
    are rounded 1e-6 before the per-doc argmax (lang ascending
    tie-break).  The prior uses unnormalized ln(n_docs_lang) — the
    shared -ln(n_train) shifts every lang equally, so the argmax is
    unchanged and no driver-side count() is needed.

    Data note: the synthetic corpus draws every lang's text from one
    shared [a-z] vocabulary, so class signal is weak by construction
    and accuracy sits near the majority prior (~0.4) — the contract
    here is the hash-verified TRAINING/SCORING pipeline, not fixture
    separability (tests/test_ml_pipeline.py pins the structural
    invariants)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0).alias("toks"),
        (hex_int(F.md5(F.col("doc_id").cast("string"))) % 10).alias("bucket"),
    )
    train = d.filter(F.col("bucket") < 8)
    test = d.filter(F.col("bucket") >= 8)
    ttoks = train.select("lang", F.explode("toks").alias("tok"))
    vocab = (
        ttoks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(NB_VOCAB)
        .select("tok")
    )
    priors = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    counts = (
        ttoks.join(F.broadcast(vocab), "tok")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    model = (
        vocab.crossJoin(priors.select("lang"))
        .join(counts, ["lang", "tok"], "left")
        .join(totals, ["lang"], "left")
        .select(
            "lang",
            "tok",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("tot"), F.lit(0)) + F.lit(float(NB_VOCAB)))
            ).alias("lp"),
        )
    )
    # Score occurrences directly against the broadcast model — no
    # per-(doc, tok) pre-count exchange (VERDICT r3 item 4): the
    # broadcast join fans out map-side and the partial sum collapses
    # per (doc, lang) before the single shuffle.
    ll = (
        test.select("doc_id", F.explode("toks").alias("tok"))
        .join(F.broadcast(model), "tok")
        .groupBy("doc_id", F.col("lang").alias("lang_pred"))
        .agg(F.sum("lp").alias("ll"))
    )
    base = test.select("doc_id", F.col("lang").alias("lang_true")).crossJoin(
        F.broadcast(
            priors.select(
                F.col("lang").alias("lang_pred"),
                F.log(F.col("n_docs").cast("double")).alias("lprior"),
            )
        )
    )
    scored = base.join(ll, ["doc_id", "lang_pred"], "left").select(
        "doc_id",
        "lang_true",
        "lang_pred",
        round6(F.col("lprior") + F.coalesce(F.col("ll"), F.lit(0.0))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang_pred").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_NB_SQL = f"""
WITH d AS (SELECT doc_id, lang,
    regexp_extract_all(lower(text), '[a-z]+') AS toks,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS bucket
  FROM documents),
train AS (SELECT * FROM d WHERE bucket < 8),
test AS (SELECT * FROM d WHERE bucket >= 8),
ttoks AS (SELECT lang, unnest(toks) AS tok FROM train),
vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM ttoks GROUP BY 1)
  ORDER BY cnt DESC, tok ASC LIMIT {NB_VOCAB}),
priors AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY 1),
counts AS (SELECT lang, tok, count(*) AS c FROM ttoks JOIN vocab USING (tok)
  GROUP BY 1, 2),
totals AS (SELECT lang, sum(c) AS tot FROM counts GROUP BY 1),
model AS (SELECT p.lang, v.tok,
    ln((coalesce(c.c, 0) + 1.0) / (coalesce(t.tot, 0) + {NB_VOCAB}.0)) AS lp
  FROM vocab v CROSS JOIN priors p
  LEFT JOIN counts c ON c.lang = p.lang AND c.tok = v.tok
  LEFT JOIN totals t ON t.lang = p.lang),
tt AS (SELECT doc_id, unnest(toks) AS tok FROM test),
ll AS (SELECT tt.doc_id, m.lang AS lang_pred, sum(m.lp) AS ll
  FROM tt JOIN model m USING (tok) GROUP BY 1, 2),
scored AS (SELECT t.doc_id, t.lang AS lang_true, p.lang AS lang_pred,
    floor((ln(CAST(p.n_docs AS DOUBLE)) + coalesce(l.ll, 0.0)) * 1e6 + 0.5)
      / 1e6 AS score
  FROM test t CROSS JOIN priors p
  LEFT JOIN ll l ON l.doc_id = t.doc_id AND l.lang_pred = p.lang),
pred AS (SELECT *, row_number() OVER (PARTITION BY doc_id
    ORDER BY score DESC, lang_pred ASC) AS rn FROM scored)
SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


KNN_PROBES = 16  # fixed probe set — broadcastable at any corpus size
KNN_K = 15
_KNN_SALTS = 64


def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-oracled k-NN majority-vote classifier over the embedding
    corpus: for ``KNN_PROBES`` fixed probes, find the exact-cosine
    top-``KNN_K`` neighbors and predict the majority neighbor label
    (vote-count desc, label asc tie-break).

    Scale: the probe set is a fixed constant (16 rows), so its
    broadcast is bounded at any corpus size — unlike a %-of-corpus
    probe set.  Scoring is one map-only corpus pass; the per-probe
    top-k uses the salted two-phase strategy from rel_grouped_topk
    (stage 1 ranks within (probe, vec_id % 64) so no single task
    sorts a corpus-sized partition; stage 2 ranks ≤ salts×k
    survivors), because 16 probe groups would otherwise serialize the
    corpus through 16 tasks.  Similarities rounded 1e-6 before
    ranking; votes are a ≤ probes×k-row aggregate."""
    from decision_tree_analytics_spark.operators.similarity import _cos, _vectors

    emb = _vectors(spark, sf_dir, F.col("label").cast("long").alias("label"))
    probes = emb.filter(F.col("vec_id") < KNN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("label").alias("label_true"),
    )
    scored = emb.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        "label_true",
        "vec_id",
        F.col("label").alias("nb_label"),
        round6(_cos("pv", "v")).alias("sim"),
        F.pmod("vec_id", F.lit(_KNN_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("probe_id", "salt").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    topk = (
        scored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= KNN_K)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= KNN_K)
    )
    votes = topk.groupBy("probe_id", "label_true", "nb_label").agg(
        F.count(F.lit(1)).alias("n_votes"), F.max("sim").alias("best_sim")
    )
    wv = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), F.col("nb_label").asc()
    )
    return (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select(
            "probe_id",
            "label_true",
            F.col("nb_label").alias("label_pred"),
            "n_votes",
            "best_sim",
        )
    )


def _knn_oracle() -> str:
    from decision_tree_analytics_spark.operators.similarity import (
        _SQL_EXPLODED,
        _SQL_NORMS,
    )

    return f"""
WITH e AS ({_SQL_EXPLODED}),
norms AS ({_SQL_NORMS}),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
dots AS (SELECT p.vec_id AS probe_id, c.vec_id, sum(p.x * c.x) AS dot
  FROM e p JOIN e c ON p.i = c.i
    AND p.vec_id < {KNN_PROBES} AND c.vec_id <> p.vec_id
  GROUP BY 1, 2),
scored AS (SELECT probe_id, d.vec_id,
    floor(dot / (np.nrm * nc.nrm) * 1e6 + 0.5) / 1e6 AS sim
  FROM dots d JOIN norms np ON d.probe_id = np.vec_id
  JOIN norms nc ON d.vec_id = nc.vec_id),
topk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY sim DESC, vec_id ASC) AS rn FROM scored) WHERE rn <= {KNN_K}),
votes AS (SELECT t.probe_id, nl.label AS nb_label,
    CAST(count(*) AS BIGINT) AS n_votes, max(sim) AS best_sim
  FROM topk t JOIN lab nl ON t.vec_id = nl.vec_id GROUP BY 1, 2),
win AS (SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY n_votes DESC, nb_label ASC) AS rv FROM votes)
SELECT w.probe_id, pl.label AS label_true, w.nb_label AS label_pred,
  w.n_votes, w.best_sim
FROM win w JOIN lab pl ON w.probe_id = pl.vec_id WHERE rv = 1
"""


RIDGE_L2 = 0.1


def _det3(c00, c01, c02, c10, c11, c12, c20, c21, c22):
    """3x3 determinant, cofactor expansion along the first row."""
    return (
        c00 * (c11 * c22 - c12 * c21)
        - c01 * (c10 * c22 - c12 * c20)
        + c02 * (c10 * c21 - c11 * c20)
    )


def _ridge_beta(feats: DataFrame, *cols: Column) -> DataFrame:
    """The closed-form ridge fit of y ~ 1 + x1 + x2 (lambda = RIDGE_L2)
    over feats: one row of coefficients b0, b1, b2, then ``cols``,
    which may read the nine moments n, s1, s2, sy, s11, s12, s22, s1y
    and s2y."""
    lam = float(RIDGE_L2)
    m = feats.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    # A = [[n+λ, s1, s2], [s1, s11+λ, s12], [s2, s12, s22+λ]],
    # b = [sy, s1y, s2y]; β_i = det(A with col i := b) / det(A).
    a00, a01, a02 = F.col("n") + lam, F.col("s1"), F.col("s2")
    a11, a12, a22 = F.col("s11") + lam, F.col("s12"), F.col("s22") + lam
    b0, b1, b2 = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = _det3(a00, a01, a02, a01, a11, a12, a02, a12, a22)
    return m.select(
        (_det3(b0, a01, a02, b1, a11, a12, b2, a12, a22) / det).alias("b0"),
        (_det3(a00, b0, a02, a01, b1, a12, a02, b2, a22) / det).alias("b1"),
        (_det3(a00, a01, b0, a01, a11, b1, a02, a12, b2) / det).alias("b2"),
        *cols,
    )


def _ridge_beta_sql(*cols: str) -> str:
    """_ridge_beta as the CTEs m and beta over a CTE f(x1, x2, y)."""
    lam = float(RIDGE_L2)

    def det3(c):
        return (
            f"({c[0]} * ({c[4]} * {c[8]} - {c[5]} * {c[7]})"
            f" - {c[1]} * ({c[3]} * {c[8]} - {c[5]} * {c[6]})"
            f" + {c[2]} * ({c[3]} * {c[7]} - {c[4]} * {c[6]}))"
        )

    a = ["(n + {l})", "s1", "s2", "s1", "(s11 + {l})", "s12", "s2", "s12", "(s22 + {l})"]
    a = [x.format(l=lam) for x in a]
    b = ["sy", "s1y", "s2y"]
    det = det3(a)
    d0 = det3([b[0], a[1], a[2], b[1], a[4], a[5], b[2], a[7], a[8]])
    d1 = det3([a[0], b[0], a[2], a[3], b[1], a[5], a[6], b[2], a[8]])
    d2 = det3([a[0], a[1], b[0], a[3], a[4], b[1], a[6], a[7], b[2]])
    extra = "".join(f", {c}" for c in cols)
    return (
        "m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x1) AS s1, sum(x2) AS s2,\n"
        "    sum(y) AS sy, sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,\n"
        "    sum(x2 * x2) AS s22, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y FROM f),\n"
        f"beta AS (SELECT {d0} / {det} AS b0, {d1} / {det} AS b1,"
        f" {d2} / {det} AS b2{extra} FROM m)"
    )


def ml_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression by NORMAL EQUATIONS — the third
    fully-oracled trainer, and the one-pass counterpart of the
    iterative ml_logreg_gd: all nine sufficient statistics
    (n, Σx, Σxxᵀ, Σxy) are mergeable sums collected in a single scan,
    and the 3×3 system (X'X + λI)β = X'y is solved in plain
    arithmetic via Cramer's rule, so DuckDB replays training exactly.

    Model: embedding dim 2 ~ intercept + dims 0,1 with λ=0.1.
    λ > 0 makes the Gram matrix positive definite, so det ≥ λ³ > 0 —
    the Cramer denominators are provably nonzero under ANSI.

    Scale: this is how distributed closed-form regression actually
    works — map-side partial sums, a shuffle carrying ONE row of
    moments, and O(p³) driver-free arithmetic in the plan itself;
    the scoring pass for train RMSE re-reads the cached projection
    with the 1-row coefficient table broadcast.  Outputs rounded
    1e-6."""
    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        F.col("embedding").getItem(0).cast("double").alias("x1"),
        F.col("embedding").getItem(1).cast("double").alias("x2"),
        F.col("embedding").getItem(2).cast("double").alias("y"),
    ).persist()
    beta = _ridge_beta(feats)
    resid = F.col("y") - (
        F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
    )
    scored = feats.crossJoin(F.broadcast(beta))
    out = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        round6(F.max("b0")).alias("b0"),
        round6(F.max("b1")).alias("b1"),
        round6(F.max("b2")).alias("b2"),
        round6(F.sqrt(F.avg(resid * resid))).alias("train_rmse"),
    )
    return tether_cache(out, feats)


def _ridge_oracle() -> str:
    return f"""
WITH f AS (SELECT embedding[1]::DOUBLE AS x1, embedding[2]::DOUBLE AS x2,
    embedding[3]::DOUBLE AS y FROM embeddings),
{_ridge_beta_sql()}
SELECT CAST(count(*) AS BIGINT) AS n,
  floor(max(b0) * 1e6 + 0.5) / 1e6 AS b0,
  floor(max(b1) * 1e6 + 0.5) / 1e6 AS b1,
  floor(max(b2) * 1e6 + 0.5) / 1e6 AS b2,
  floor(sqrt(avg((y - (b0 + b1 * x1 + b2 * x2))
    * (y - (b0 + b1 * x1 + b2 * x2)))) * 1e6 + 0.5) / 1e6 AS train_rmse
FROM f CROSS JOIN beta
"""


KCENTER_PICKS = 5  # seed + 4 greedy farthest-point additions


def ml_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center data selection (farthest-point traversal) —
    the coreset/diversity-selection primitive a training pipeline
    uses to pick a maximally-spread representative subset: seed with
    the lowest vec_id, then repeatedly add the vector FARTHEST from
    the already-selected set (max over corpus of min squared
    euclidean distance to members).  Steps are unrolled, so the whole
    greedy trajectory is SQL-expressible and DuckDB replays every
    selection exactly.

    Scale: each step is one corpus pass — the selected set (≤ 5 rows,
    carried as a 1-row wide table like ml_logreg_gd's weights) is
    broadcast, per-row min-dist is map-only, and the argmax lowers to
    TakeOrdered(1); no collect(), the driver only composes plans.
    Per-member distances are rounded 1e-6 BEFORE the min/argmax
    (vec_id ascending tie-break) so both engines pick identical
    points.  Output: (step, vec_id, radius) — radius is the min-dist
    at selection time, the k-center coverage guarantee."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .persist()  # greedy steps re-scan the corpus k times — read cache,
        # not parquet, for steps 2..k (tether-released below)
    )

    def sqdist(a, b):
        # HOF form kept deliberately: an unrolled 64-term codegen
        # variant (the _ivf_l2 shape) was A/B-measured 4x SLOWER here
        # — k members × 64 getItem terms explode Python-side plan
        # construction and analysis (the similarity.py mean-stage
        # lesson), while the interpreted HOF eval is trivial on the
        # |corpus × k| rows of this pass (jobwall ~0.8 s).
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    S = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("s_id1"),
            F.col("v").alias("s_v1"),
            F.lit(0.0).alias("s_d1"),
        )
    )

    def pick(S: DataFrame, i: int) -> DataFrame:
        k = i + 2
        scored = emb.crossJoin(F.broadcast(S))
        dists = [round6(sqdist(F.col("v"), F.col(f"s_v{j}"))) for j in range(1, k)]
        mind = dists[0] if k == 2 else F.least(*dists)
        nxt = (
            scored.select("vec_id", "v", mind.alias("d"))
            .orderBy(F.col("d").desc(), F.col("vec_id").asc())
            .limit(1)
        )
        return S.crossJoin(
            F.broadcast(
                nxt.select(
                    F.col("vec_id").alias(f"s_id{k}"),
                    F.col("v").alias(f"s_v{k}"),
                    F.col("d").alias(f"s_d{k}"),
                )
            )
        )

    # The 1-row selected set is checkpointed per step: it otherwise
    # nests every prior corpus pass (933 formatted lines unrolled).
    S = iterate(S, pick, KCENTER_PICKS - 1, 1)
    stack_args = ", ".join(
        f"{k}, s_id{k}, s_d{k}" for k in range(1, KCENTER_PICKS + 1)
    )
    result = S.selectExpr(
        f"stack({KCENTER_PICKS}, {stack_args}) AS (step, vec_id, radius)"
    ).select(
        F.col("step").cast("long").alias("step"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "radius",
    )
    return tether_cache(result, emb)


def _kcenter_oracle() -> str:
    parts = [
        "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,"
        " unnest(embedding)::DOUBLE AS x FROM embeddings),",
        "s1 AS (SELECT min(vec_id) AS id, 0.0 AS d FROM embeddings),",
    ]
    for k in range(2, KCENTER_PICKS + 1):
        # dist of every vector to member k-1, rounded like Spark
        parts.append(
            f"dd{k - 1} AS (SELECT e.vec_id,"
            f" floor(sum((e.x - b.x) * (e.x - b.x)) * 1e6 + 0.5) / 1e6 AS d"
            f" FROM e JOIN e b ON b.vec_id = (SELECT id FROM s{k - 1})"
            f" AND b.i = e.i GROUP BY e.vec_id),"
        )
        mins = " , ".join(f"dd{j}.d" for j in range(1, k))
        joins = " ".join(
            f"JOIN dd{j} ON dd{j}.vec_id = dd1.vec_id" for j in range(2, k)
        )
        least = f"least({mins})" if k > 2 else "dd1.d"
        parts.append(
            f"s{k} AS (SELECT dd1.vec_id AS id, {least} AS d"
            f" FROM dd1 {joins}"
            f" ORDER BY {least} DESC, dd1.vec_id ASC LIMIT 1),"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, CAST(id AS BIGINT) AS vec_id,"
        f" d AS radius FROM s{k}"
        for k in range(1, KCENTER_PICKS + 1)
    )
    return "\n".join(parts)[:-1] + "\n" + sel


QUERIES = {
    "q25_feature_assembly": q25_feature_assembly,
    "q26_dt_train_predict": q26_dt_train_predict,
    "ml_feature_importance": ml_feature_importance,
    "ml_rf_train_predict": ml_rf_train_predict,
    "ml_baseline_metrics": ml_baseline_metrics,
    "ml_logreg_gd": ml_logreg_gd,
    "ml_cv_select": ml_cv_select,
    "ml_centroid_assign": ml_centroid_assign,
    "ml_naive_bayes": ml_naive_bayes,
    "ml_knn_classify": ml_knn_classify,
    "ml_ridge_normal_eq": ml_ridge_normal_eq,
    "ml_kcenter_select": ml_kcenter_select,
}

ORACLES = {
    "q25_feature_assembly": (
        "SELECT l_orderkey, l_linenumber, CAST(3 AS BIGINT) AS vec_size,"
        " CAST((CASE WHEN coalesce(l_quantity, 0) <> 0 THEN 1 ELSE 0 END)"
        "    + (CASE WHEN coalesce(l_discount, 0) <> 0 THEN 1 ELSE 0 END)"
        "    + (CASE WHEN coalesce(l_tax, 0) <> 0 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS vec_nnz"
        " FROM lineitem"
    ),
    # q26 / ml_rf: non-SQL-expressible (iterative ML) → rows-only.
    "ml_feature_importance": _fi_oracle(),
    "ml_logreg_gd": _logreg_oracle(),
    "ml_cv_select": _CV_SQL,
    "ml_centroid_assign": _CENTROID_SQL,
    "ml_naive_bayes": _NB_SQL,
    "ml_knn_classify": _knn_oracle(),
    "ml_ridge_normal_eq": _ridge_oracle(),
    "ml_kcenter_select": _kcenter_oracle(),
    "ml_baseline_metrics": (
        "WITH li AS (SELECT l_orderkey, l_returnflag, l_extendedprice AS y,"
        "   ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT"
        "     % 10 AS bucket FROM lineitem),"
        " means AS (SELECT l_returnflag, avg(y) AS yhat FROM li"
        "   WHERE bucket < 8 GROUP BY 1),"
        " t AS (SELECT li.y, m.yhat FROM li JOIN means m USING (l_returnflag)"
        "   WHERE bucket = 9)"
        " SELECT CAST(count(*) AS BIGINT) AS n_test,"
        " floor(sqrt(sum((y - yhat) * (y - yhat)) / count(*)) * 1e2 + 0.5)"
        "   / 1e2 AS rmse,"
        " floor(avg(abs(y - yhat)) * 1e2 + 0.5) / 1e2 AS mae,"
        " floor((1.0 - sum((y - yhat) * (y - yhat))"
        "   / (sum(y * y) - count(*) * avg(y) * avg(y))) * 1e6 + 0.5) / 1e6"
        "   AS r2"
        " FROM t"
    ),
}


PCA_DIMS = 8  # leading embedding dims entering the covariance
PCA_ITERS = 3  # unrolled power-iteration rounds


def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PCA: top principal component of the leading
    ``PCA_DIMS`` embedding dimensions via ``PCA_ITERS`` unrolled power
    iterations — the dimensionality-reduction / drift-detection
    primitive a feature pipeline runs without engine-seeded SVD.

    One corpus pass reduces to the moment row (count, means, upper-
    triangle second moments — mergeable partials, so the same plan
    refreshes incrementally); everything after operates on that ONE
    row: covariance cells, the matrix-vector products, the norms.
    Cross-engine: covariance cells round to 1e-9 BEFORE the iteration
    so both engines then run the identical IEEE sequence (the dot
    products are unrolled left-associated sums, division and sqrt are
    correctly rounded), and the all-ones start vector fixes the
    eigenvector sign.  Output: corpus count, the Rayleigh-quotient
    eigenvalue, and the 8 loadings, all rounded 1e-6."""
    n = PCA_DIMS
    e = load_table(spark, sf_dir, "embeddings").select(
        *[F.col("embedding")[j].cast("double").alias(f"x{j}") for j in range(n)]
    )
    aggs = [F.count(F.lit(1)).alias("cnt")]
    aggs += [F.avg(f"x{j}").alias(f"m{j}") for j in range(n)]
    aggs += [
        F.avg(F.col(f"x{j}") * F.col(f"x{k}")).alias(f"p{j}_{k}")
        for j in range(n)
        for k in range(j, n)
    ]
    m = e.agg(*aggs)
    r9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9  # noqa: E731
    ccols = [f"c{j}_{k}" for j in range(n) for k in range(n)]
    cov = m.select(
        "cnt",
        *[
            r9(
                F.col(f"p{min(j, k)}_{max(j, k)}")
                - F.col(f"m{j}") * F.col(f"m{k}")
            ).alias(f"c{j}_{k}")
            for j in range(n)
            for k in range(n)
        ],
    )

    def matvec(j: int) -> Column:
        terms = [F.col(f"c{j}_{k}") * F.col(f"v{k}") for k in range(n)]
        return sum(terms[1:], terms[0])

    cur = cov.select(
        "cnt", *ccols, *[F.lit(1.0).alias(f"v{j}") for j in range(n)]
    )
    for _ in range(PCA_ITERS):
        cur = cur.select(
            "cnt", *ccols, *[matvec(j).alias(f"w{j}") for j in range(n)]
        )
        sq = [F.col(f"w{j}") * F.col(f"w{j}") for j in range(n)]
        nrm = F.sqrt(sum(sq[1:], sq[0]))
        cur = cur.select(
            "cnt",
            *ccols,
            *[
                (F.col(f"w{j}") / F.nullif(nrm, F.lit(0.0))).alias(f"v{j}")
                for j in range(n)
            ],
        )
    lam_terms = [F.col(f"v{j}") * matvec(j) for j in range(n)]
    lam = sum(lam_terms[1:], lam_terms[0])
    return cur.select(
        F.col("cnt").cast("long").alias("n"),
        round6(lam).alias("eigenvalue"),
        *[round6(F.col(f"v{j}")).alias(f"l{j}") for j in range(n)],
    )


def _pca_oracle() -> str:
    n = PCA_DIMS
    xs = ", ".join(f"embedding[{j + 1}]::DOUBLE AS x{j}" for j in range(n))
    aggs = ["count(*) AS cnt"]
    aggs += [f"avg(x{j}) AS m{j}" for j in range(n)]
    aggs += [
        f"avg(x{j} * x{k}) AS p{j}_{k}" for j in range(n) for k in range(j, n)
    ]
    ccols = ", ".join(f"c{j}_{k}" for j in range(n) for k in range(n))
    cdefs = ", ".join(
        f"floor((p{min(j, k)}_{max(j, k)} - m{j} * m{k}) * 1e9 + 0.5) / 1e9"
        f" AS c{j}_{k}"
        for j in range(n)
        for k in range(n)
    )
    mv = lambda j: " + ".join(f"c{j}_{k} * v{k}" for k in range(n))  # noqa: E731
    parts = [
        f"WITH e AS (SELECT {xs} FROM embeddings),",
        f"m AS (SELECT {', '.join(aggs)} FROM e),",
        f"c AS (SELECT cnt, {cdefs} FROM m),",
        "it0 AS (SELECT cnt, " + ccols + ", "
        + ", ".join(f"1.0 AS v{j}" for j in range(n))
        + " FROM c),",
    ]
    for i in range(PCA_ITERS):
        ws = ", ".join(f"{mv(j)} AS w{j}" for j in range(n))
        parts.append(f"w{i} AS (SELECT cnt, {ccols}, {ws} FROM it{i}),")
        nrm = "sqrt(" + " + ".join(f"w{j} * w{j}" for j in range(n)) + ")"
        vs = ", ".join(
            f"w{j} / nullif({nrm}, 0.0) AS v{j}" for j in range(n)
        )
        parts.append(f"it{i + 1} AS (SELECT cnt, {ccols}, {vs} FROM w{i}),")
    parts[-1] = parts[-1].rstrip(",")  # last CTE: no comma before SELECT
    lam = " + ".join(f"v{j} * ({mv(j)})" for j in range(n))
    ls = ", ".join(
        f"floor(v{j} * 1e6 + 0.5) / 1e6 AS l{j}" for j in range(n)
    )
    parts.append(
        " SELECT CAST(cnt AS BIGINT) AS n,"
        f" floor(({lam}) * 1e6 + 0.5) / 1e6 AS eigenvalue, {ls}"
        f" FROM it{PCA_ITERS}"
    )
    return "".join(parts)


QUERIES["ml_pca_power"] = ml_pca_power
ORACLES["ml_pca_power"] = _pca_oracle()


GBT_ROUNDS = 3  # unrolled boosting rounds
GBT_LR = 0.5  # shrinkage
GBT_CANDS = (5, 10, 15, 20, 25, 30, 35, 40, 45)  # fixed split grid


def ml_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-oracled gradient boosting: GBT_ROUNDS unrolled rounds of
    depth-1 regression stumps (price ~ quantity) with shrinkage — the
    canonical tabular-ML trainer, hash-verified end to end like
    ml_logreg_gd (MLlib's GBT is engine-internal and would force a
    rows-only check).

    Split search uses a FIXED candidate grid, the same bounded-bins
    move MLlib's maxBins makes: each round is ONE corpus pass
    computing 4 conditional partials per candidate (mergeable sums —
    map-side combine collapses them, the shuffle carries one row),
    then a 1-row argmax picks the split maximizing between-group sum
    of squares.  Cross-engine: scores and the stored stump
    parameters round 1e-6 before every decision (candidate ascending
    tie-break via coalesce order); an empty split side yields a NULL
    score via nullif and both engines' greatest() skip NULLs
    identically.  Output: one row — n, the 3 stumps (threshold,
    left/right leaf values), and the training RMSE."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").alias("y"),
        )
        .persist()
    )
    # All scalar expressions are built as SQL text and parsed in ONE
    # F.expr round-trip each.  The Column-operator form issued ~20k
    # py4j calls constructing this query's expression trees (every
    # `*`/`when`/`col` is a JVM round-trip) — 8.2 s of driver-side
    # build vs 1.8 s of execution warm at sf0.1.  The parsed Catalyst
    # operators are the identical nodes the Column API builds (double
    # literals via the D suffix), so every trained value is bit-equal
    # and the oracle hash is unchanged.  Each candidate's split score
    # is also computed ONCE as a named column (sc_t) — the inline form
    # re-expanded the score tree 3×|cands|+|cands| times per round and
    # re-analysis of that nested tree was most of the remaining build.
    r6s = lambda s: f"floor(({s}) * 1e6 + 0.5D) / 1e6"  # noqa: E731
    state = li.agg(F.expr(r6s("avg(y)")).alias("f0"))

    def fhat_sql(m: int) -> str:
        e = "f0"
        for i in range(1, m + 1):
            e += (
                f" + {GBT_LR}D * (CASE WHEN x <= t{i} THEN l{i}"
                f" ELSE r{i} END)"
            )
        return e

    def score_sql(t: int) -> str:
        return r6s(
            f"sl_{t} * sl_{t} / CAST(nullif(cl_{t}, 0) AS DOUBLE)"
            f" + sr_{t} * sr_{t} / CAST(nullif(cr_{t}, 0) AS DOUBLE)"
        )

    def boost_round(state: DataFrame, i: int) -> DataFrame:
        m = i + 1
        carry_cols = list(state.columns)
        j = li.crossJoin(F.broadcast(state)).withColumn(
            "res", F.expr(f"y - ({fhat_sql(m - 1)})")
        )
        aggs = [F.expr(f"max({c}) AS {c}") for c in carry_cols]
        for t in GBT_CANDS:
            aggs += [
                F.expr(f"sum(CASE WHEN x <= {t} THEN res END) AS sl_{t}"),
                F.expr(f"count(CASE WHEN x <= {t} THEN res END) AS cl_{t}"),
                F.expr(f"sum(CASE WHEN x > {t} THEN res END) AS sr_{t}"),
                F.expr(f"count(CASE WHEN x > {t} THEN res END) AS cr_{t}"),
            ]
        g = j.agg(*aggs).select(
            "*",
            *[F.expr(f"{score_sql(t)} AS sc_{t}") for t in GBT_CANDS],
        ).withColumn(
            "best",
            F.expr("greatest(" + ", ".join(f"sc_{t}" for t in GBT_CANDS) + ")"),
        )
        pick = lambda val: "COALESCE(" + ", ".join(  # noqa: E731
            f"CASE WHEN sc_{t} = best THEN {val(t)} END" for t in GBT_CANDS
        ) + ")"
        return g.select(
            *carry_cols,
            F.expr(pick(lambda t: f"{t}.0D")).alias(f"t{m}"),
            F.expr(
                pick(
                    lambda t: r6s(
                        f"sl_{t} / CAST(nullif(cl_{t}, 0) AS DOUBLE)"
                    )
                )
            ).alias(f"l{m}"),
            F.expr(
                pick(
                    lambda t: r6s(
                        f"sr_{t} / CAST(nullif(cr_{t}, 0) AS DOUBLE)"
                    )
                )
            ).alias(f"r{m}"),
        )

    # The 1-row state is checkpointed every round, the last one
    # included: every DataFrame op re-analyzes its whole nested tree
    # driver-side, so round m's ops otherwise pay for rounds 1..m-1
    # again (analysis was 3-4x the execution time).
    state = checkpoint(iterate(state, boost_round, GBT_ROUNDS, 1), 1)
    final = li.crossJoin(F.broadcast(state))
    out_cols = [c for c in state.columns if c != "f0"]
    fh = fhat_sql(GBT_ROUNDS)
    result = final.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("f0").alias("f0"),
        *[F.expr(f"max({c}) AS {c}") for c in out_cols],
        F.expr(r6s(f"sqrt(avg((y - ({fh})) * (y - ({fh}))))")).alias(
            "train_rmse"
        ),
    )
    return tether_cache(result, li)


def _gbt_oracle() -> str:
    r6 = lambda s: f"floor(({s}) * 1e6 + 0.5) / 1e6"  # noqa: E731

    def fhat(m: int) -> str:
        e = "f0"
        for i in range(1, m + 1):
            e += (
                f" + {GBT_LR} * (CASE WHEN x <= t{i} THEN l{i}"
                f" ELSE r{i} END)"
            )
        return e

    def score(t: int) -> str:
        return r6(
            f"sl_{t} * sl_{t} / CAST(nullif(cl_{t}, 0) AS DOUBLE)"
            f" + sr_{t} * sr_{t} / CAST(nullif(cr_{t}, 0) AS DOUBLE)"
        )

    parts = [
        "WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,"
        " l_extendedprice AS y FROM lineitem),",
        f"s0 AS (SELECT {r6('avg(y)')} AS f0 FROM d),",
    ]
    carry = ["f0"]
    for m in range(1, GBT_ROUNDS + 1):
        res = f"y - ({fhat(m - 1)})"
        conds = []
        for t in GBT_CANDS:
            conds += [
                f"sum(CASE WHEN x <= {t} THEN {res} END) AS sl_{t}",
                f"count(CASE WHEN x <= {t} THEN {res} END) AS cl_{t}",
                f"sum(CASE WHEN x > {t} THEN {res} END) AS sr_{t}",
                f"count(CASE WHEN x > {t} THEN {res} END) AS cr_{t}",
            ]
        cc = ", ".join(f"max({c}) AS {c}" for c in carry)
        parts.append(
            f"a{m} AS (SELECT {cc}, {', '.join(conds)}"
            f" FROM d CROSS JOIN s{m - 1}),"
        )
        best = "greatest(" + ", ".join(score(t) for t in GBT_CANDS) + ")"
        parts.append(f"b{m} AS (SELECT *, {best} AS best FROM a{m}),")
        pick = lambda val: "COALESCE(" + ", ".join(  # noqa: E731
            f"CASE WHEN {score(t)} = best THEN {val(t)} END"
            for t in GBT_CANDS
        ) + ")"
        tm = pick(lambda t: f"{t}.0")
        lm = pick(
            lambda t: r6(f"sl_{t} / CAST(nullif(cl_{t}, 0) AS DOUBLE)")
        )
        rm = pick(
            lambda t: r6(f"sr_{t} / CAST(nullif(cr_{t}, 0) AS DOUBLE)")
        )
        parts.append(
            f"s{m} AS (SELECT {', '.join(carry)}, {tm} AS t{m},"
            f" {lm} AS l{m}, {rm} AS r{m} FROM b{m}),"
        )
        carry = carry + [f"t{m}", f"l{m}", f"r{m}"]
    cc = ", ".join(f"max({c}) AS {c}" for c in carry)
    parts.append(
        f"fin AS (SELECT CAST(count(*) AS BIGINT) AS n, {cc},"
        f" {r6(f'sqrt(avg((y - ({fhat(GBT_ROUNDS)})) * (y - ({fhat(GBT_ROUNDS)}))))')}"
        f" AS train_rmse FROM d CROSS JOIN s{GBT_ROUNDS})"
    )
    parts.append(f" SELECT n, {', '.join(carry)}, train_rmse FROM fin")
    return "".join(parts)


QUERIES["ml_gbt_stumps"] = ml_gbt_stumps
ORACLES["ml_gbt_stumps"] = _gbt_oracle()


def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney rank identity — the
    classifier-evaluation staple next to ml_confusion_matrix /
    ml_calibration_bins, on the same deterministic score (scaled
    discount) against the returned-line outcome.

    AUC = P(score_pos > score_neg) + ½·P(tie), computed from the
    per-distinct-score class counts: one corpus aggregate collapses
    N rows to the |distinct scores| grid (11 here — bounded by the
    score's codomain, not the corpus), a cumulative window orders it,
    and the numerator stays INTEGER (doubled to absorb the ½-tie
    term) until the single final division — no float rank sums to
    drift between engines.  Output: n_pos, n_neg, auc, gini."""
    li = load_table(spark, sf_dir, "lineitem").select(
        # rule-3 idiom: floor on BOTH sides — cast("long") truncates in
        # Spark while DuckDB CAST(.. AS BIGINT) rounds-to-nearest, and a
        # regenerated fixture with a value scaling to x.9999... would
        # silently diverge (ADVICE r4).
        F.floor(F.col("l_discount") * 100).cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    g = li.groupBy("s").agg(
        F.sum("y").alias("np"),
        F.sum(1 - F.col("y")).alias("nn"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    x = g.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("nn_below"),
    )
    agg = x.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("nn_below") + F.col("nn")))
        .cast("long")
        .alias("num2"),
    )
    auc = F.col("num2") / (2.0 * F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        "n_pos",
        "n_neg",
        round6(auc).alias("auc"),
        round6(2 * auc - 1).alias("gini"),
    )


QUERIES["ml_auc_roc"] = ml_auc_roc
ORACLES["ml_auc_roc"] = """
WITH d AS (SELECT CAST(floor(l_discount * 100) AS BIGINT) AS s,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem),
g AS (SELECT s, sum(y) AS np, sum(1 - y) AS nn FROM d GROUP BY s),
x AS (SELECT np, nn,
    coalesce(sum(nn) OVER (ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
  FROM g),
a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
    CAST(sum(nn) AS BIGINT) AS n_neg,
    CAST(sum(np * (2 * nn_below + nn)) AS BIGINT) AS num2 FROM x)
SELECT n_pos, n_neg,
  floor(num2 / (2.0 * n_pos * n_neg) * 1e6 + 0.5) / 1e6 AS auc,
  floor((2 * (num2 / (2.0 * n_pos * n_neg)) - 1) * 1e6 + 0.5) / 1e6 AS gini
FROM a
"""


PSI_BINS = 10


def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — THE production drift monitor: bin
    a model score into fixed bands and compare the reference (train
    split) distribution against the live (test split) one;
    PSI = Σ (p−q)·ln(p/q), with > 0.2 conventionally alarming.

    Same deterministic score and hash-split as the other eval
    harnesses (scaled discount, md5 buckets).  One corpus pass
    reduces to the 10-bin × 2-split grid — bins are fixed-width (a
    quantile-based binning would need a corpus sort; at 100 TB you
    bin against the REFERENCE quantiles computed once).  Empty bins
    contribute NULL terms via nullif (skipped by sum) identically in
    both engines.  Per-bin rows plus the running total so the
    readout carries both the diagnosis and the drill-down."""
    li = load_table(spark, sf_dir, "lineitem").select(
        # discount spans [0, 0.1] — ×100 spreads it over the 10 bands
        F.least(F.floor(F.col("l_discount") * 100), F.lit(PSI_BINS - 1))
        .cast("long")
        .alias("bin"),
        (hex_int(F.md5(F.col("l_orderkey").cast("string"))) % 10).alias("bucket"),
    )
    g = li.filter((F.col("bucket") < 8) | (F.col("bucket") == 9)).groupBy(
        "bin"
    ).agg(
        F.sum(F.when(F.col("bucket") < 8, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("bucket") == 9, 1).otherwise(0)).alias("n_live"),
    )
    wt = Window.partitionBy()
    p = F.col("n_ref") / F.sum("n_ref").over(wt)
    q = F.col("n_live") / F.sum("n_live").over(wt)
    # guard BOTH sides of the ratio: q=0 → ln(inf) and p=0 → ln(0),
    # where Spark's F.log(0) returns NULL but DuckDB's ln(0) RAISES
    # Out of Range — an engine-divergent failure mode (ADVICE r4).
    term = (p - q) * F.log(F.nullif(p, F.lit(0.0)) / F.nullif(q, F.lit(0.0)))
    x = g.select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_live").cast("long").alias("n_live"),
        round6(p).alias("p_ref"),
        round6(q).alias("q_live"),
        round6(term).alias("psi_term"),
    )
    # total = sum of the ROUNDED per-bin terms: summing the raw terms
    # in engine-dependent order rounds differently at the boundary.
    return x.withColumn(
        "psi_total", round6(F.sum(F.col("psi_term")).over(Window.partitionBy()))
    )


ORACLES["ml_psi_drift"] = f"""
WITH li AS (SELECT
    least(CAST(floor(l_discount * 100) AS BIGINT), {PSI_BINS - 1}) AS bin,
    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10
      AS bucket
  FROM lineitem),
g AS (SELECT bin,
    sum(CASE WHEN bucket < 8 THEN 1 ELSE 0 END) AS n_ref,
    sum(CASE WHEN bucket = 9 THEN 1 ELSE 0 END) AS n_live
  FROM li WHERE bucket < 8 OR bucket = 9 GROUP BY bin),
x AS (SELECT bin, n_ref, n_live,
    n_ref / sum(n_ref) OVER () AS p,
    n_live / sum(n_live) OVER () AS q
  FROM g)
SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_live AS BIGINT) AS n_live,
  floor(p * 1e6 + 0.5) / 1e6 AS p_ref,
  floor(q * 1e6 + 0.5) / 1e6 AS q_live,
  floor((p - q) * ln(nullif(p, 0.0) / nullif(q, 0.0)) * 1e6 + 0.5) / 1e6
    AS psi_term,
  floor(sum(floor((p - q) * ln(nullif(p, 0.0) / nullif(q, 0.0)) * 1e6 + 0.5)
        / 1e6)
      OVER () * 1e6 + 0.5) / 1e6
    AS psi_total
FROM x
"""
QUERIES["ml_psi_drift"] = ml_psi_drift


def ml_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table over fixed score bands — the
    targeting readout next to ml_auc_roc: walking the score bands
    from best down, what share of all positives has been captured,
    and how that compares to random selection (lift).

    Fixed-width bands keep the binning map-only (a population-decile
    ntile would global-sort the corpus; at 100 TB you'd cut on
    sketch quantiles instead — same 10-row result shape).  The
    cumulative window runs over the 10-row band grid."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.least(F.floor(F.col("l_discount") * 100), F.lit(9))
        .cast("long")
        .alias("band"),  # discount spans [0, 0.1] — ×100 → 10 bands
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    g = li.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy()
    cum_n = F.sum("n").over(w)
    cum_pos = F.sum("n_pos").over(w)
    gain = cum_pos / F.sum("n_pos").over(wt)
    pop = cum_n / F.sum("n").over(wt)
    return g.select(
        "band",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        cum_n.cast("long").alias("cum_n"),
        cum_pos.cast("long").alias("cum_pos"),
        round6(gain).alias("gain"),
        round6(gain / pop).alias("lift"),  # pop > 0: every emitted band has rows
    )


ORACLES["ml_lift_curve"] = """
WITH li AS (SELECT least(CAST(floor(l_discount * 100) AS BIGINT), 9) AS band,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem),
g AS (SELECT band, count(*) AS n, sum(y) AS n_pos FROM li GROUP BY band),
x AS (SELECT band, n, n_pos,
    sum(n) OVER (ORDER BY band DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
    sum(n_pos) OVER (ORDER BY band DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
    sum(n) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos
  FROM g)
SELECT band, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
  CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
  floor(CAST(cum_pos AS DOUBLE) / tot_pos * 1e6 + 0.5) / 1e6 AS gain,
  floor((CAST(cum_pos AS DOUBLE) / tot_pos)
    / (CAST(cum_n AS DOUBLE) / tot_n) * 1e6 + 0.5) / 1e6 AS lift
FROM x
"""
QUERIES["ml_lift_curve"] = ml_lift_curve


TE_FOLDS = 5  # out-of-fold encoding folds (md5 content-hash)
TE_SMOOTH = 10  # additive-smoothing pseudo-count toward the global mean


def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold out-of-fold mean target encoding with additive
    smoothing — the workhorse categorical encoder for tabular models
    at scale (replace a high-cardinality category with the mean label
    of OTHER folds' rows, so a row never sees its own label: no
    leakage, and rare categories shrink toward the global mean).

    One corpus pass reduces to the |categories| × K grid of integer
    (count, cents-sum) partials — map-side combine collapses the
    shuffle; the per-category and global totals are windows over that
    bounded grid.  Cross-engine exactness: the label is integer CENTS
    (floor(price*100+0.5)), so every aggregate and window is BIGINT
    arithmetic — no float summation order anywhere; the only floats
    are the two final divisions, rounded 1e-6.  enc_raw is NULL (via
    nullif) when a category lives entirely inside one fold; the
    smoothed encoding is always defined."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (hex_int(F.md5(F.col("o_orderkey").cast("string"))) % TE_FOLDS).alias("fold"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    g = o.groupBy("category", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    wcat = Window.partitionBy("category")
    wall = Window.partitionBy()
    s_cat = F.sum("s").over(wcat)
    n_cat = F.sum("n").over(wcat)
    mu = F.sum("s").over(wall) / F.sum("n").over(wall).cast("double")
    s_oof = s_cat - F.col("s")
    n_oof = n_cat - F.col("n")
    return g.select(
        "category",
        "fold",
        F.col("n").alias("n_fold"),
        n_oof.cast("long").alias("n_oof"),
        round6(s_oof / F.nullif(n_oof, F.lit(0)).cast("double") / 100).alias(
            "enc_raw"
        ),
        round6(
            (s_oof + TE_SMOOTH * mu) / (n_oof + TE_SMOOTH).cast("double") / 100
        ).alias("enc_smooth"),
    )


QUERIES["ml_target_encoding"] = ml_target_encoding
ORACLES["ml_target_encoding"] = f"""
WITH o AS (SELECT o_orderpriority AS category,
    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
      % {TE_FOLDS} AS fold,
    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
g AS (SELECT category, fold, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS s
  FROM o GROUP BY 1, 2),
x AS (SELECT category, fold, n, s,
    CAST(sum(s) OVER (PARTITION BY category) AS BIGINT) AS s_cat,
    CAST(sum(n) OVER (PARTITION BY category) AS BIGINT) AS n_cat,
    CAST(sum(s) OVER () AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS mu
  FROM g)
SELECT category, fold, n AS n_fold, CAST(n_cat - n AS BIGINT) AS n_oof,
  floor((s_cat - s) / CAST(nullif(n_cat - n, 0) AS DOUBLE) / 100
      * 1e6 + 0.5) / 1e6
    AS enc_raw,
  floor(((s_cat - s) + {TE_SMOOTH} * mu)
      / CAST((n_cat - n) + {TE_SMOOTH} AS DOUBLE) / 100 * 1e6 + 0.5) / 1e6
    AS enc_smooth
FROM x
"""


CONF_ALPHA_P = 0.9  # split-conformal quantile level (1 - alpha)


def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals — the
    distribution-free uncertainty wrapper production scoring
    pipelines put around ANY point model: fit on the train split,
    take the (1−α) quantile of absolute residuals on a held-out
    CALIBRATION split, and ship ŷ ± q; the conformal guarantee is
    ≥ (1−α) coverage on exchangeable data, and this query also
    MEASURES the realized coverage on the test split (the number an
    ML-ops dashboard actually watches).

    Fully oracled end to end: the point model is closed-form OLS
    (price ~ quantity) from one pass of mergeable moments (rounded
    1e-6 before use so both engines score one expression tree), the
    calibration quantile is percentile ≡ quantile_cont (the
    rel_winsorize idiom), and coverage is a conditional mean.  Three
    passes over one persisted 3-column projection — moments,
    calibration quantile, test coverage — each a 1-row reduction with
    map-side combine; splits are content-hash buckets (train <7,
    cal 7-8, test 9)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").alias("y"),
            (hex_int(F.md5(F.col("l_orderkey").cast("string"))) % 10).alias(
                "bucket"
            ),
        )
        .persist()
    )
    tr = F.col("bucket") < 7
    m = li.agg(
        F.sum(F.when(tr, 1).otherwise(0)).cast("long").alias("n"),
        F.sum(F.when(tr, F.col("x"))).alias("sx"),
        F.sum(F.when(tr, F.col("y"))).alias("sy"),
        F.sum(F.when(tr, F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(F.when(tr, F.col("x") * F.col("y"))).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    # intercept from the SAME rounded slope (one expression tree)
    params = m.select(
        F.col("n").alias("n_train"),
        round6(slope).alias("b"),
        round6((F.col("sy") - round6(slope) * F.col("sx")) / F.col("n").cast("double"))
        .alias("a"),
    )
    scored = li.crossJoin(F.broadcast(params)).withColumn(
        "absres", F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x")))
    )
    qrow = scored.agg(
        F.max("n_train").cast("long").alias("n_train"),
        F.max("a").alias("a"),
        F.max("b").alias("b"),
        F.sum(F.when(F.col("bucket").isin(7, 8), 1).otherwise(0))
        .cast("long")
        .alias("n_cal"),
        round6(
            F.percentile(
                F.when(F.col("bucket").isin(7, 8), F.col("absres")),
                CONF_ALPHA_P,
            )
        ).alias("q90"),
    )
    test = scored.filter(F.col("bucket") == 9).crossJoin(
        F.broadcast(qrow.select("n_cal", "q90"))
    )
    cov = test.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.max("n_cal").cast("long").alias("n_cal"),
        F.max("q90").alias("q"),
        round6(
            F.avg((F.col("absres") <= F.col("q90")).cast("double"))
        ).alias("coverage"),
    )
    result = cov.crossJoin(F.broadcast(params)).select(
        "n_train",
        "n_cal",
        "n_test",
        F.col("a").alias("intercept"),
        F.col("b").alias("slope"),
        F.col("q").alias("q90"),
        "coverage",
        round6(2 * F.col("q")).alias("mean_width"),
    )
    return tether_cache(result, li)


QUERIES["ml_conformal_interval"] = ml_conformal_interval
ORACLES["ml_conformal_interval"] = f"""
WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x, l_extendedprice AS y,
    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10
      AS bucket
  FROM lineitem),
m AS (SELECT CAST(sum(CASE WHEN bucket < 7 THEN 1 ELSE 0 END) AS BIGINT)
      AS n,
    sum(CASE WHEN bucket < 7 THEN x END) AS sx,
    sum(CASE WHEN bucket < 7 THEN y END) AS sy,
    sum(CASE WHEN bucket < 7 THEN x * x END) AS sxx,
    sum(CASE WHEN bucket < 7 THEN x * y END) AS sxy
  FROM d),
p AS (SELECT n AS n_train,
    floor((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)
        * 1e6 + 0.5) / 1e6 AS b,
    floor((sy - (floor((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)
          * 1e6 + 0.5) / 1e6) * sx) / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6
      AS a
  FROM m),
s AS (SELECT d.bucket, abs(d.y - (p.a + p.b * d.x)) AS absres
  FROM d CROSS JOIN p),
q AS (SELECT CAST(sum(CASE WHEN bucket IN (7, 8) THEN 1 ELSE 0 END)
      AS BIGINT) AS n_cal,
    floor(quantile_cont(CASE WHEN bucket IN (7, 8) THEN absres END,
        {CONF_ALPHA_P}) * 1e6 + 0.5) / 1e6 AS q90
  FROM s),
c AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
    floor(avg(CASE WHEN absres <= q90 THEN 1.0 ELSE 0.0 END)
        * 1e6 + 0.5) / 1e6 AS coverage
  FROM s CROSS JOIN q WHERE bucket = 9)
SELECT n_train, n_cal, n_test, a AS intercept, b AS slope, q90, coverage,
  floor(2 * q90 * 1e6 + 0.5) / 1e6 AS mean_width
FROM p CROSS JOIN q CROSS JOIN c
"""


SHAP_PROBE_MOD = 7  # deterministic probe slice: vec_id % 7 == 0


def ml_shap_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHAP attribution for the closed-form ridge model — for a
    linear model with the independent-features baseline, the Shapley
    value of feature j on row x is EXACTLY phi_j = beta_j * (x_j -
    mean(x_j)), and pred = base + sum(phi) with base = beta0 +
    sum(beta_j * mean_j).  This is the model-explainability readout a
    scoring pipeline ships next to every batch prediction.

    Training is ml_ridge_normal_eq's fit (_ridge_beta): one
    mergeable-moments pass, Cramer 3x3 solve (lambda=0.1 keeps the
    determinant >= lambda^3 > 0 — ANSI-safe), so DuckDB replays the
    fit exactly.  Attribution is then MAP-ONLY: the 1-row (beta,
    means) table broadcasts onto the probe slice (vec_id %
    SHAP_PROBE_MOD = 0 — a deterministic sample, not a bounded
    broadcast; the full-corpus variant is the same plan), zero
    additional shuffles — this is how per-row explanation jobs stay
    linear at 100 TB.  Outputs rounded 1e-6 on both sides."""
    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x1"),
        F.col("embedding").getItem(1).cast("double").alias("x2"),
        F.col("embedding").getItem(2).cast("double").alias("y"),
    ).persist()
    beta = _ridge_beta(
        feats,
        (F.col("s1") / F.col("n")).alias("xm1"),
        (F.col("s2") / F.col("n")).alias("xm2"),
    )
    probes = feats.filter(F.col("vec_id") % SHAP_PROBE_MOD == 0)
    out = probes.crossJoin(F.broadcast(beta)).select(
        "vec_id",
        round6(
            F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
        ).alias("pred"),
        round6(
            F.col("b0") + F.col("b1") * F.col("xm1") + F.col("b2") * F.col("xm2")
        ).alias("base"),
        round6(F.col("b1") * (F.col("x1") - F.col("xm1"))).alias("phi_x1"),
        round6(F.col("b2") * (F.col("x2") - F.col("xm2"))).alias("phi_x2"),
    )
    return tether_cache(out, feats)


def _shap_oracle() -> str:
    return f"""
WITH f AS (SELECT vec_id, embedding[1]::DOUBLE AS x1,
    embedding[2]::DOUBLE AS x2, embedding[3]::DOUBLE AS y FROM embeddings),
{_ridge_beta_sql("s1 / n AS xm1", "s2 / n AS xm2")}
SELECT vec_id,
  floor((b0 + b1 * x1 + b2 * x2) * 1e6 + 0.5) / 1e6 AS pred,
  floor((b0 + b1 * xm1 + b2 * xm2) * 1e6 + 0.5) / 1e6 AS base,
  floor((b1 * (x1 - xm1)) * 1e6 + 0.5) / 1e6 AS phi_x1,
  floor((b2 * (x2 - xm2)) * 1e6 + 0.5) / 1e6 AS phi_x2
FROM f CROSS JOIN beta WHERE vec_id % {SHAP_PROBE_MOD} = 0
"""


QUERIES["ml_shap_linear"] = ml_shap_linear
ORACLES["ml_shap_linear"] = _shap_oracle()


# ---------------------------------------------------------------------------
# ml_quantile_reg — pinball-loss quantile regression over a fixed grid
# ---------------------------------------------------------------------------

QREG_INTERCEPTS = [0, 2500, 5000, 7500, 10000]  # cents
QREG_SLOPES = [-200, -100, 0, 100, 200]  # cents per hour-of-day
QREG_COMBOS = [(a, b) for a in QREG_INTERCEPTS for b in QREG_SLOPES]
# q = 0.9, losses scaled x10 so both branches stay integer:
# loss10 = 9*(y - yhat) if y > yhat else (yhat - y).


def ml_quantile_reg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression (q = 0.9) of event value on hour-of-day
    via exact pinball-loss grid search — the tail-latency/tail-spend
    modeling pass mean-OLS (rel_rolling_ols, ml_ridge_normal_eq)
    cannot do.  Every (intercept, slope) candidate's total pinball
    loss is ONE conditional aggregate, so the whole 25-point grid is
    a single corpus pass producing 25 columns on the |event_type|
    grid, then a stack + rank picks the argmin — the
    ml_threshold_tuning shape: grid-size WINDOW rows, never
    grid-size corpus scans (and never a 25x explode of the fact
    table).

    Determinism: y is rule-3 integer cents, yhat = a + b*h is a
    BIGINT literal expression, both CASE branches are non-negative
    BIGINTs, and there is NO division anywhere; the argmin rank
    breaks ties (loss10, a, b) — unique by construction (rule 5).
    Sums stay under 2^63 until ~2e13 rows per event_type (9 *
    max-cent-residual ~= 4.5e5 per row).  Scale: map-side-combinable
    single pass; the window runs on |event_type| x 25 rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("y"),
        (ts_bucket(US_PER_HOUR) % 24).alias("h"),
    )
    sums = []
    for i, (a, b) in enumerate(QREG_COMBOS):
        yhat = F.lit(a) + F.lit(b) * F.col("h")
        sums.append(
            F.sum(
                F.when(F.col("y") > yhat, 9 * (F.col("y") - yhat)).otherwise(
                    yhat - F.col("y")
                )
            )
            .cast("long")
            .alias(f"l_{i}")
        )
    agg = base.groupBy("event_type").agg(*sums)
    stack_args = ", ".join(
        f"{a}L, {b}L, l_{i}" for i, (a, b) in enumerate(QREG_COMBOS)
    )
    grid = agg.selectExpr(
        "event_type",
        f"stack({len(QREG_COMBOS)}, {stack_args})"
        " AS (intercept_cents, slope_cents, loss10)",
    )
    w = Window.partitionBy("event_type").orderBy(
        "loss10", "intercept_cents", "slope_cents"
    )
    return (
        grid.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("intercept_cents").cast("long").alias("intercept_cents"),
            F.col("slope_cents").cast("long").alias("slope_cents"),
            F.col("loss10").cast("long").alias("loss10"),
        )
    )


def _qreg_oracle() -> str:
    sums = ",\n    ".join(
        f"CAST(sum(CASE WHEN y > {a} + {b} * h"
        f" THEN 9 * (y - ({a} + {b} * h))"
        f" ELSE ({a} + {b} * h) - y END) AS BIGINT) AS l_{i}"
        for i, (a, b) in enumerate(QREG_COMBOS)
    )
    arms = "\n  UNION ALL ".join(
        f"SELECT event_type, CAST({a} AS BIGINT) AS intercept_cents,"
        f" CAST({b} AS BIGINT) AS slope_cents, l_{i} AS loss10 FROM agg"
        for i, (a, b) in enumerate(QREG_COMBOS)
    )
    return f"""
WITH base AS (SELECT event_type,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y,
    (epoch_us(ts) // 3600000000) % 24 AS h
  FROM events WHERE value IS NOT NULL),
agg AS MATERIALIZED (SELECT event_type,
    {sums}
  FROM base GROUP BY 1),
grid AS ({arms}),
ranked AS (SELECT *,
    row_number() OVER (PARTITION BY event_type
      ORDER BY loss10, intercept_cents, slope_cents) AS rn
  FROM grid)
SELECT event_type, intercept_cents, slope_cents, loss10
FROM ranked WHERE rn = 1
"""


QUERIES["ml_quantile_reg"] = ml_quantile_reg
ORACLES["ml_quantile_reg"] = _qreg_oracle()
