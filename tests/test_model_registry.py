"""Versioned model registry: vNNNN layout, latest resolution, and the
reference predictor's byte-identical missing-location error on absent
versions (SparkMLPredictor.java:113-116 contract carried over)."""

from __future__ import annotations

import pytest

from decision_tree_analytics_spark.config import PredictorConfig, TrainerConfig
from decision_tree_analytics_spark.errors import ModelNotFoundError
from decision_tree_analytics_spark.ml.predictor import DecisionTreePredictorStage
from decision_tree_analytics_spark.ml import registry as registry_module
from decision_tree_analytics_spark.ml.registry import ModelRegistry, load_model
from decision_tree_analytics_spark.ml.trainer import DecisionTreeTrainerStage
from tests.fixtures import flights


@pytest.fixture(scope="module")
def registry(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("registry"))
    cfg = TrainerConfig(
        file_set_name="unused",
        feature_fields_to_include=flights.TRAINER_FEATURES,
        label_field="delayed",
        max_depth=9,
        max_bins=100,
        cardinality_mapping="dofW:7",
    )
    stage = DecisionTreeTrainerStage(cfg, root)
    reg = ModelRegistry(root)
    train = flights.flight_train_df(spark)
    # Two training runs → two immutable versions.
    for _ in range(2):
        model = stage.run(train)
        reg.save(model, "flights")
    return reg


def test_versions_increment_and_latest_resolves(registry):
    assert registry.versions("flights") == ["v0001", "v0002"]
    assert registry.resolve("flights").endswith("flights/v0002")
    assert registry.resolve("flights", "v0001").endswith("flights/v0001")
    assert registry.next_version("flights") == "v0003"


def test_latest_loads_and_predicts(spark, registry):
    model = registry.load("flights")
    assert model.numFeatures == len(flights.TRAINER_FEATURES.split(","))


def test_missing_name_and_version_errors(registry):
    # No versions at all → the reference's exact message, at .../latest.
    with pytest.raises(ModelNotFoundError) as e:
        registry.resolve("nope")
    assert str(e.value) == (
        "Failed to find model to use for classification."
        f" Location does not exist: {registry.model_dir('nope')}/latest."
    )
    # Explicit missing version.
    with pytest.raises(ModelNotFoundError) as e:
        registry.resolve("flights", "v0009")
    assert str(e.value).endswith("flights/v0009.")


def test_predictor_config_tracks_latest(spark, registry):
    cfg = PredictorConfig(
        file_set_name="flights",
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        prediction_field="delayed",
        model_version="latest",
    )
    assert cfg.resolve_model_path(registry.root).endswith("flights/v0002")
    stage = DecisionTreePredictorStage(cfg, registry.root)
    out = stage.transform(flights.flight_predict_df(spark))
    assert out.columns[-1] == "delayed"
    assert out.count() == 6


def test_predictor_missing_version_message(registry):
    cfg = PredictorConfig(
        file_set_name="flights",
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        model_version="v0042",
    )
    with pytest.raises(ModelNotFoundError) as e:
        DecisionTreePredictorStage(cfg, registry.root)
    assert str(e.value) == (
        "Failed to find model to use for classification."
        f" Location does not exist: {registry.model_dir('flights')}/v0042."
    )


def test_pin_of_another_application_is_not_served(spark, registry, monkeypatch):
    path = registry.resolve("flights")
    load_model(path)  # pinned under this application
    app_id, digest = registry_module._pin_key(path)
    with registry_module._pinned_lock:
        model = registry_module._pinned.pop((app_id, digest))
        registry_module._pinned[("local-stopped", digest)] = model
    loads = []
    real_load = registry_module.DecisionTreeRegressionModel.load
    monkeypatch.setattr(
        registry_module.DecisionTreeRegressionModel,
        "load",
        staticmethod(lambda p: loads.append(p) or real_load(p)),
    )
    assert load_model(path).numNodes == model.numNodes
    assert loads == [path]
    # The miss pinned the fresh load, so the next call is served.
    load_model(path)
    assert loads == [path]
