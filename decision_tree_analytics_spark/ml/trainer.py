"""Decision-tree regression trainer — reference ``DecisionTreeTrainer``
(+ abstract ``SparkMLTrainer``) rebuilt on ``pyspark.ml``.

Pipeline (SparkMLTrainer.java:111-153 → DataFrame-native):

1. empty-input guard (O13, :112) — no-op instead of fit on empty;
2. drop rows with null label (O4, :118-127);
3. assemble null≡0.0 feature vector in schema order (O5, :129-146);
4. attach categorical arity metadata (O7, DecisionTreeTrainer.java:53-55);
5. cache before the iterative tree algorithm (O6, :147), spread first:
   the feature and label columns are hash-partitioned over every core
   (``operators._parts.spread``) before assembly, so the cache holds
   one partition per core and each of the fit's passes runs that many
   tasks, whatever layout the input arrives in;
6. ``DecisionTreeRegressor(impurity='variance', maxDepth, maxBins)``
   (O8, DecisionTreeTrainer.java:42-43,56-57 — impurity is fixed);
7. save to FileSet-style path base/<fileSetName>[/<path>] (O9, :148-152)
   through ``registry.save_model``, which also pins the model in the
   driver: a predictor built on that path in the same Spark application
   takes a copy of the pinned tree and runs no Spark job to load it.

Scale: tree training is Spark ML's distributed histogram algorithm —
per-level candidate-split statistics are computed map-side and
tree-reduced; input size only affects the per-level aggregation, and
``maxBins`` bounds memory.  The cache keeps the (projected, assembled)
columns only — far smaller than the input table.  A single-file table
arrives as one partition, which would leave the cache fill, the
metadata aggregate, split sampling, binning and every level job on one
core; the spread costs one shuffle of the raw scalar columns (cheaper
than shuffling the assembled vector) and puts them all on every core.
The tree equals the one fitted without the spread up to the low bits
of its leaf means (summation order).  Split candidates are still
sampled per partition above max(maxBins², 10,000) rows, so a feature
with more distinct values than ``maxBins`` can get other thresholds
under another layout.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml.regression import DecisionTreeRegressionModel, DecisionTreeRegressor
from pyspark.sql import DataFrame

from decision_tree_analytics_spark import schema as S
from decision_tree_analytics_spark.config import TrainerConfig
from decision_tree_analytics_spark.ml.features import FEATURES_COL, assemble_features
from decision_tree_analytics_spark.ml.registry import save_model
from decision_tree_analytics_spark.operators._parts import spread


class DecisionTreeTrainerStage:
    """Terminal pipeline stage: fit + persist (reference SparkSink)."""

    def __init__(self, config: TrainerConfig, base_dir: str) -> None:
        self.config = config
        self.base_dir = base_dir

    def run(self, df: DataFrame) -> DecisionTreeRegressionModel | None:
        """Train and save; returns the model (None on empty input)."""
        cfg = self.config
        feature_list = cfg.validate(df.schema)
        categorical = S.get_categorical_feature_info(
            feature_list, cfg.cardinality_mapping
        )

        if df.isEmpty():  # O13 empty-input guard
            return None

        labeled = df.filter(F.col(cfg.label_field).isNotNull())  # O4
        columns = [*feature_list, cfg.label_field]
        spread_input = spread(labeled.select(*columns), *columns)
        assembled = assemble_features(spread_input, feature_list, categorical)
        training = assembled.select(
            F.col(FEATURES_COL), F.col(cfg.label_field).cast("double").alias("label")
        ).cache()  # O6

        try:
            tree = DecisionTreeRegressor(
                featuresCol=FEATURES_COL,
                labelCol="label",
                impurity="variance",  # fixed, DecisionTreeTrainer.java:42-43
                maxDepth=cfg.max_depth,
                maxBins=cfg.max_bins,
                seed=12345,  # determinism for golden tests
            )
            model = tree.fit(training)
        finally:
            training.unpersist()

        save_model(model, cfg.resolve_model_path(self.base_dir), overwrite=True)  # O9
        return model
