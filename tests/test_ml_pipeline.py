"""End-to-end ML pipeline tests — the rebuild of the reference's
DecisionTreeRegressionTest (train → save → load → predict on the
flight fixture) plus the behavioral contracts from FIXTURES.md §A3."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import DoubleType

from decision_tree_analytics_spark.config import PredictorConfig, TrainerConfig
from decision_tree_analytics_spark.errors import ModelNotFoundError
from decision_tree_analytics_spark.ml import (
    DecisionTreePredictorStage,
    DecisionTreeTrainerStage,
    assemble_features,
)
from tests.fixtures import flights


@pytest.fixture(scope="module")
def model_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("models"))


@pytest.fixture(scope="module")
def trained(spark, model_dir):
    cfg = TrainerConfig(
        file_set_name="decision-tree-model",
        path="flights",
        feature_fields_to_include=flights.TRAINER_FEATURES,
        cardinality_mapping="dofW:7",
        label_field="delayed",
        max_depth=9,
        max_bins=100,
    )
    model = DecisionTreeTrainerStage(cfg, model_dir).run(flights.flight_train_df(spark))
    assert model is not None
    return cfg, model


def test_train_save_load_predict_golden(spark, model_dir, trained):
    """Q26: the full vertical slice with set-equality on predictions.

    The reference pins {1,0,1,0,1,1} against Spark 1.6 MLlib; our
    goldens are re-pinned on our own deterministic fixture+tree
    (SURVEY §7 risk register allows this — contract shape identical).
    """
    pred_cfg = PredictorConfig(
        file_set_name="decision-tree-model",
        path="flights",
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        prediction_field="delayed",
    )
    stage = DecisionTreePredictorStage(pred_cfg, model_dir)
    out = stage.transform(flights.flight_predict_df(spark))

    # O12: schema = input + prediction double, input order preserved.
    assert out.columns == flights.flight_predict_df(spark).columns + ["delayed"]
    assert isinstance(out.schema["delayed"].dataType, DoubleType)

    got = [r.delayed for r in out.orderBy("flightNum").collect()]
    # Pinned golden (deterministic: fixed fixture seed + tree seed).
    # By flightNum: 1 (JFK 09:00 Fri → ~35 min expected, not delayed),
    # 1791 (ATL 18:55 carrier 4 → delayed), 1908 (ORD 16:41 carrier 4
    # → delayed), 2407 (LAX 10:25 Tue → clean), 3419 (ATL 11:50 Fri →
    # ~35 min, below threshold), 6159 (ORD 20:30 Fri → delayed).
    expected = [0.0, 1.0, 1.0, 0.0, 0.0, 1.0]
    assert got == expected, f"golden drift: {got}"


def test_null_label_rows_dropped_in_training_only(spark, model_dir):
    train = flights.flight_train_df(spark)
    with_nulls = train.unionByName(
        train.limit(5).withColumn("delayed", F.lit(None).cast("double"))
    )
    cfg = TrainerConfig(
        file_set_name="m-nulls",
        feature_fields_to_include=flights.TRAINER_FEATURES,
        label_field="delayed",
        max_depth=3,
    )
    model = DecisionTreeTrainerStage(cfg, model_dir).run(with_nulls)
    assert model is not None
    assert model.numFeatures == 8


def test_null_feature_is_zero(spark):
    """SURVEY §1.4: null feature ≡ 0.0 in the assembled vector."""
    df = flights.flight_predict_df(spark).withColumn(
        "scheduleDepTime", F.lit(None).cast("double")
    )
    fl = {"dofM": 0, "scheduleDepTime": 1, "elapsedTime": 2}
    vecs = assemble_features(df, fl).select("__features__").collect()
    for (v,) in vecs:
        assert v[1] == 0.0
        assert v.size == 3


def test_empty_input_guards(spark, model_dir, trained):
    train = flights.flight_train_df(spark)
    empty = train.limit(0)
    cfg = TrainerConfig(
        file_set_name="never-written",
        feature_fields_to_include=flights.TRAINER_FEATURES,
        label_field="delayed",
    )
    assert DecisionTreeTrainerStage(cfg, model_dir).run(empty) is None

    pred_cfg = PredictorConfig(
        file_set_name="decision-tree-model",
        path="flights",
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        prediction_field="delayed",
    )
    stage = DecisionTreePredictorStage(pred_cfg, model_dir)
    out = stage.transform(flights.flight_predict_df(spark).limit(0))
    assert out.count() == 0
    assert out.columns[-1] == "delayed"


def test_missing_model_location_message(model_dir):
    cfg = PredictorConfig(file_set_name="no-such-model", prediction_field="p")
    with pytest.raises(ModelNotFoundError) as e:
        DecisionTreePredictorStage(cfg, model_dir)
    assert str(e.value) == (
        "Failed to find model to use for classification."
        f" Location does not exist: {model_dir}/no-such-model."
    )


def test_understated_cardinality_fails(spark, model_dir):
    """Q27: cardinalityMapping dofW:2 with 7 observed values must make
    the training run FAIL (DecisionTreeRegressionTest.java:237-275)."""
    cfg = TrainerConfig(
        file_set_name="m-bad-card",
        feature_fields_to_include=flights.TRAINER_FEATURES,
        cardinality_mapping="dofW:2",
        label_field="delayed",
        max_depth=9,
    )
    with pytest.raises(Exception):
        DecisionTreeTrainerStage(cfg, model_dir).run(flights.flight_train_df(spark))


def _jobs_run_by(spark, fn):
    """``fn()``'s result and the number of Spark jobs it started,
    counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"model-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _train(spark, model_dir, name, max_depth):
    cfg = TrainerConfig(
        file_set_name=name,
        feature_fields_to_include=flights.TRAINER_FEATURES,
        cardinality_mapping="dofW:7",
        label_field="delayed",
        max_depth=max_depth,
    )
    return DecisionTreeTrainerStage(cfg, model_dir).run(flights.flight_train_df(spark))


def _predictor(model_dir, name, prediction_field="delayed"):
    cfg = PredictorConfig(
        file_set_name=name,
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        prediction_field=prediction_field,
    )
    return DecisionTreePredictorStage(cfg, model_dir)


def test_predictor_on_a_just_trained_path_runs_no_job(spark, model_dir):
    # The trainer pins what it saves; loading it back would cost three
    # Spark jobs (metadata first(), data parquet read and collect).
    _train(spark, model_dir, "pin-fresh", max_depth=4)
    stage, jobs = _jobs_run_by(spark, lambda: _predictor(model_dir, "pin-fresh"))
    assert jobs == 0
    assert stage.transform(flights.flight_predict_df(spark)).count() == 6


def test_retrained_path_scores_with_the_new_tree(spark, model_dir):
    deep = _train(spark, model_dir, "pin-retrain", max_depth=9)
    assert _predictor(model_dir, "pin-retrain").model.depth == deep.depth
    shallow = _train(spark, model_dir, "pin-retrain", max_depth=2)
    assert shallow.depth < deep.depth
    stage = _predictor(model_dir, "pin-retrain")
    assert stage.model.depth == shallow.depth
    df = flights.flight_predict_df(spark)
    got = [r.delayed for r in stage.transform(df).orderBy("flightNum").collect()]
    want = (
        shallow.transform(assemble_features(df, stage.config.validate(df.schema)))
        .orderBy("flightNum")
        .collect()
    )
    assert got == [r.prediction for r in want]


def test_predictors_on_one_pinned_model_keep_their_own_columns(spark, model_dir):
    trained = _train(spark, model_dir, "pin-shared", max_depth=4)
    a = _predictor(model_dir, "pin-shared", "p_a")
    b = _predictor(model_dir, "pin-shared", "p_b")
    df = flights.flight_predict_df(spark)
    out_a, out_b = a.transform(df), b.transform(df)
    assert out_a.columns == df.columns + ["p_a"]
    assert out_b.columns == df.columns + ["p_b"]
    assert out_a.orderBy("flightNum").select("p_a").collect() == (
        out_b.orderBy("flightNum").select(F.col("p_b").alias("p_a")).collect()
    )
    # Scoring set the copies' columns, not the trainer's model's.
    assert trained.getPredictionCol() == "prediction"
    assert trained.getFeaturesCol() == "__features__"


def test_feature_importance_properties(spark, sf_dir):
    """ml_feature_importance: a normalized split-gain importance
    distribution over the three declared features — gains are
    non-negative (between-group SS ≥ root SS is Cauchy-Schwarz),
    thresholds come from each feature's declared grid, and two runs
    are byte-identical (pure deterministic aggregation)."""
    from decision_tree_analytics_spark.operators.ml_inventory import (
        FI_GRIDS,
        ml_feature_importance,
    )

    rows = {r.feature: r for r in ml_feature_importance(spark, sf_dir).collect()}
    assert set(rows) == {"l_quantity", "l_discount", "l_tax"}
    imps = [r.importance for r in rows.values()]
    assert all(0.0 <= v <= 1.0 for v in imps)
    # importances are individually rounded 1e-6 → sum within 3 ulps
    assert abs(sum(imps) - 1.0) < 3e-6
    assert all(r.gain >= 0.0 for r in rows.values())
    assert all(
        r.best_threshold in FI_GRIDS[f] for f, r in rows.items()
    )
    again = {r.feature: r for r in ml_feature_importance(spark, sf_dir).collect()}
    assert {k: v.importance for k, v in rows.items()} == {
        k: v.importance for k, v in again.items()
    }


def test_rf_deterministic_and_bounded(spark, sf_dir):
    """ml_rf_train_predict: fixed-seed ensemble is rerun-stable and
    predictions stay inside the label range (a regression forest
    averages leaf means, so it can never extrapolate outside)."""
    from decision_tree_analytics_spark.operators.ml_inventory import (
        ml_rf_train_predict,
    )
    from decision_tree_analytics_spark.sources.tables import load_table

    a = (
        ml_rf_train_predict(spark, sf_dir)
        .toPandas()
        .sort_values(["l_orderkey", "l_linenumber"])
        .reset_index(drop=True)
    )
    b = (
        ml_rf_train_predict(spark, sf_dir)
        .toPandas()
        .sort_values(["l_orderkey", "l_linenumber"])
        .reset_index(drop=True)
    )
    assert (a["predicted_price"] == b["predicted_price"]).all()
    lo, hi = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr("min(l_extendedprice)", "max(l_extendedprice)")
        .first()
    )
    assert a["predicted_price"].between(lo, hi).all()


def test_naive_bayes_confusion_matrix_structure(spark, sf_dir):
    # Structural invariants robust to testdata regeneration: the
    # confusion matrix partitions exactly the md5-bucket >= 8 test
    # split, and predictions only come from langs seen in training.
    import pyspark.sql.functions as F

    from decision_tree_analytics_spark.operators.ml_inventory import ml_naive_bayes
    from decision_tree_analytics_spark.sources.tables import load_table

    rows = ml_naive_bayes(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 10
        ).alias("bucket"),
    )
    n_test = d.filter(F.col("bucket") >= 8).count()
    train_langs = {
        r.lang for r in d.filter(F.col("bucket") < 8).select("lang").distinct().collect()
    }
    assert sum(r.n_docs for r in rows) == n_test
    assert {r.lang_pred for r in rows} <= train_langs
    assert all(r.n_docs > 0 for r in rows)


def test_pca_power_unit_loadings_and_positive_eigenvalue(spark, sf_dir):
    """The power-iteration output must be a unit vector (loadings
    norm 1 within rounding) with a positive covariance eigenvalue."""
    from decision_tree_analytics_spark.operators.ml_inventory import (
        PCA_DIMS,
        ml_pca_power,
    )

    row = ml_pca_power(spark, sf_dir).collect()[0]
    norm2 = sum(row[f"l{j}"] ** 2 for j in range(PCA_DIMS))
    assert abs(norm2 - 1.0) < 1e-4
    assert row["eigenvalue"] > 0
    assert row["n"] > 0


def test_gbt_stumps_reduce_training_error(spark, sf_dir):
    """Boosted stumps must beat the constant-mean model on training
    RMSE, and each stump must split both sides non-trivially (leaf
    values present, threshold from the candidate grid)."""
    import math

    from decision_tree_analytics_spark.operators.ml_inventory import (
        GBT_CANDS,
        GBT_ROUNDS,
        ml_gbt_stumps,
    )
    from decision_tree_analytics_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    row = ml_gbt_stumps(spark, sf_dir).collect()[0]
    base = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.stddev_pop("l_extendedprice").alias("s"))
        .collect()[0]["s"]
    )
    assert row["train_rmse"] < base
    for m in range(1, GBT_ROUNDS + 1):
        assert row[f"t{m}"] in [float(t) for t in GBT_CANDS]
        assert math.isfinite(row[f"l{m}"]) and math.isfinite(row[f"r{m}"])


def test_conformal_coverage_near_nominal(spark, sf_dir):
    """ml_conformal_interval: the split-conformal guarantee — realized
    test coverage must sit near the nominal 1-alpha = 0.9 (the whole
    point of the wrapper; a broken quantile or residual definition
    shows up here immediately)."""
    from decision_tree_analytics_spark.operators.ml_inventory import (
        ml_conformal_interval,
    )

    row = ml_conformal_interval(spark, sf_dir).collect()[0]
    assert 0.85 <= row.coverage <= 0.96
    assert row.q90 > 0 and row.mean_width == pytest.approx(2 * row.q90, rel=1e-9)
    assert row.n_train > row.n_cal > row.n_test > 0


def test_q26_scoring_reads_the_tethered_cache(spark, sf_dir):
    """q26 caches its training features and tethers the cache to the
    result: the caller's scoring action reads the cache instead of
    re-reading lineitem, and dropping the collected result frees it."""
    import gc
    import time

    from decision_tree_analytics_spark.operators.ml_inventory import (
        q26_dt_train_predict,
    )
    from decision_tree_analytics_spark.plans.inspect import simple_plan, uncached_scans
    from decision_tree_analytics_spark.sources.tables import load_table

    sc = spark.sparkContext._jsc.sc()

    def cached_rdds() -> set[int]:  # RDDs with blocks in storage
        return {info.id() for info in sc.getRDDStorageInfo()}

    n = load_table(spark, sf_dir, "lineitem").count()
    before = cached_rdds()
    result = q26_dt_train_predict(spark, sf_dir)
    plan = simple_plan(result)
    assert "InMemoryRelation" in plan
    assert uncached_scans(plan, "lineitem") == 0
    assert len(result.collect()) == n
    ours = cached_rdds() - before
    assert ours, "the fit cached no features"
    del result
    gc.collect()
    deadline = time.monotonic() + 10
    while cached_rdds() & ours and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not cached_rdds() & ours
