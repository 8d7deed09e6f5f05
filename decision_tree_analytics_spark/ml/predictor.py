"""Decision-tree prediction stage — reference ``DecisionTreePredictor``
(+ abstract ``SparkMLPredictor``) rebuilt on ``pyspark.ml``.

Reference dataflow (SparkMLPredictor.java:107-157):

* stage init loads the model, hard-failing with the reference's exact
  message when the location is absent (:113-116);
* every record is scored (no rows dropped), null features ≡ 0.0;
* output schema = input schema + ``predictionField`` double (O12).

Architectural upgrade over the reference: the reference serializes the
loaded model into each task closure (the anonymous ``Function``
captures the plugin object, SURVEY §3.2).  Here ``model.transform``
is pure JVM — Spark broadcasts the tree once per executor and the
scoring projection is codegen'd; no Python or closure shipping in the
hot path.
"""

from __future__ import annotations

import os

from pyspark.ml.regression import DecisionTreeRegressionModel
from pyspark.sql import DataFrame

from decision_tree_analytics_spark.config import PredictorConfig
from decision_tree_analytics_spark.errors import ModelNotFoundError
from decision_tree_analytics_spark.ml.features import FEATURES_COL, assemble_features


class DecisionTreePredictorStage:
    """Record→record transform (reference SparkCompute)."""

    def __init__(self, config: PredictorConfig, base_dir: str) -> None:
        self.config = config
        self.base_dir = base_dir
        model_path = config.resolve_model_path(base_dir)
        if not os.path.exists(model_path):
            raise ModelNotFoundError.at(model_path)
        self.model = DecisionTreeRegressionModel.load(model_path)

    def transform(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        feature_list = cfg.validate(df.schema)

        # O13: empty in → empty out, schema still widened — handled by
        # model.transform itself (a zero-row scan scores zero rows); no
        # isEmpty() pre-check, which would cost a Spark job per call.
        assembled = assemble_features(df, feature_list)
        scored = (
            self.model.setFeaturesCol(FEATURES_COL)
            .setPredictionCol(cfg.prediction_field)
            .transform(assembled)
            .drop(FEATURES_COL)
        )
        # O12: output schema = input + prediction field (double).
        return scored.select(*df.columns, cfg.prediction_field)
