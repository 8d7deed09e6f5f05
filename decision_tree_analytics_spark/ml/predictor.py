"""Decision-tree prediction stage — reference ``DecisionTreePredictor``
(+ abstract ``SparkMLPredictor``) rebuilt on ``pyspark.ml``.

Reference dataflow (SparkMLPredictor.java:107-157):

* stage init loads the model once, hard-failing with the reference's
  exact message when the location is absent (:113-116);
* every record is scored (no rows dropped), null features ≡ 0.0;
* output schema = input schema + ``predictionField`` double (O12).

Architectural upgrade over the reference: the reference serializes the
loaded model into each task closure (the anonymous ``Function``
captures the plugin object, SURVEY §3.2).  Here ``model.transform``
is pure JVM — Spark broadcasts the tree once per executor and the
scoring projection is codegen'd; no Python or closure shipping in the
hot path.

The model comes from ``registry.load_model``: when this Spark
application pinned the same saved files (the trainer pins what it
saves, a load pins what it reads), stage init is a file digest and a
model copy with no Spark job; otherwise it is one three-job
``DecisionTreeRegressionModel.load``.  The copy is this stage's own, so
setting its feature and prediction columns touches no other holder of
the tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from decision_tree_analytics_spark.config import PredictorConfig
from decision_tree_analytics_spark.ml.features import FEATURES_COL, assemble_features
from decision_tree_analytics_spark.ml.registry import load_model


class DecisionTreePredictorStage:
    """Record→record transform (reference SparkCompute)."""

    def __init__(self, config: PredictorConfig, base_dir: str) -> None:
        self.config = config
        self.base_dir = base_dir
        self.model = load_model(config.resolve_model_path(base_dir))

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
        )
        # O12: output schema = input + prediction field (double).
        return scored.select(*df.columns, cfg.prediction_field)
