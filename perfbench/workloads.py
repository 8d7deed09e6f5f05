"""The benchmark's workloads and the operations they issue.

Each operation builds its DataFrame through the engine's public
functions, runs one timed action that materialises every output
column, and checks the result.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import digest
from tracing import Tracer

# ``bench.HEADLINE`` plus short TPC-H, relational and text queries,
# all with a DuckDB oracle.  Fixed per-query overhead (DataFrame build
# over py4j, Catalyst, job scheduling) dominates at this size; the ML
# layer is idle.
OLAP_SHORT = (
    "q11_hash_agg",
    "q06_inner_join",
    "q16_window_keep_first",
    "q19_topk",
    "q23_math_fns",
    "q24_exact_dedup",
    "tpch_q1_pricing_summary",
    "tpch_q12_priority_shipping",
    "rel_grouped_topk",
    "ns_text_quality",
)

# The paper's dataflow on lineitem: features and label of the
# decision-tree operators (q26's price model).
FEATURES = ("l_quantity", "l_discount", "l_tax")
LABEL = "l_extendedprice"
MODEL_SET = "dt_price_model"


@dataclass
class Context:
    spark: object
    corpus_dir: str
    model_dir: str
    tracer: Tracer
    queries: dict
    expected: dict  # query name -> digest.Digest from the oracle
    lineitem_rows: int
    label_sum: float


class Op:
    """One operation.  ``run`` returns the check's verdict (None when
    the output is correct, else a one-line reason) and the DataFrame
    whose action was timed, if any."""

    name: str

    def prepare(self, ctx: Context) -> None:
        """Runs before the operation, outside its timed window."""

    def run(self, ctx: Context) -> tuple[str | None, object]:
        raise NotImplementedError


class OracledQuery(Op):
    """A registered query whose digest must match its DuckDB oracle."""

    def __init__(self, name: str) -> None:
        self.name = name

    def run(self, ctx: Context) -> tuple[str | None, object]:
        with ctx.tracer.span("operators.build"):
            df = ctx.queries[self.name](ctx.spark, ctx.corpus_dir)
        with ctx.tracer.span("action"):
            action = digest.digest_action(df)
            row = action.collect()[0]
        return digest.compare(digest.read_digest(df, row), ctx.expected[self.name]), action


def _lineitem_source(ctx: Context):
    from decision_tree_analytics_spark.sources.tables import load_table

    def source(spark):
        return load_table(spark, ctx.corpus_dir, "lineitem").select(*FEATURES, LABEL)

    return source


class TrainPipeline(Op):
    """``Pipeline(source -> TrainerSink)``: fit with the reference
    defaults (maxDepth 10, maxBins 100) and save the model."""

    name = "dt_train"

    def run(self, ctx: Context) -> tuple[str | None, object]:
        from decision_tree_analytics_spark.config import TrainerConfig
        from decision_tree_analytics_spark.pipeline import Pipeline, TrainerSink

        sink = TrainerSink(
            TrainerConfig(
                file_set_name=MODEL_SET,
                feature_fields_to_include=",".join(FEATURES),
                label_field=LABEL,
            ),
            ctx.model_dir,
        )
        with ctx.tracer.span("pipeline.train"):
            model = Pipeline(
                source=_lineitem_source(ctx),
                sink=ctx.tracer.wrap("ml.trainer", sink),
            ).run(ctx.spark)
        return check_model(model, os.path.join(ctx.model_dir, MODEL_SET)), None

    def prepare(self, ctx: Context) -> None:
        # The check must see this call's save, not an earlier one's.
        shutil.rmtree(os.path.join(ctx.model_dir, MODEL_SET), ignore_errors=True)


def check_model(model, path: str) -> str | None:
    """None when ``model`` is a tree and was saved to ``path``."""
    if model is None or model.numNodes < 3:
        return "trainer returned no tree"
    if not all(os.path.exists(os.path.join(path, d, "_SUCCESS")) for d in ("metadata", "data")):
        return "model was not saved"
    return None


class ScorePipeline(Op):
    """``Pipeline(source -> PredictorTransform)``: load the saved model
    and score every lineitem row."""

    name = "dt_score"

    def run(self, ctx: Context) -> tuple[str | None, object]:
        from decision_tree_analytics_spark.config import PredictorConfig
        from decision_tree_analytics_spark.pipeline import Pipeline, PredictorTransform

        transform = PredictorTransform(
            PredictorConfig(
                file_set_name=MODEL_SET,
                feature_fields_to_include=",".join(FEATURES),
                prediction_field="prediction",
            ),
            ctx.model_dir,
        )
        with ctx.tracer.span("pipeline.score"):
            df = Pipeline(
                source=_lineitem_source(ctx),
                transforms=[ctx.tracer.wrap("ml.predictor", transform)],
            ).run(ctx.spark)
        with ctx.tracer.span("action"):
            action = digest.score_action(df, "prediction")
            row = action.collect()[0]
        return digest.check_scores(row, ctx.lineitem_rows, ctx.label_sum), action


class TrainPredictQuery(Op):
    """``q26_dt_train_predict``: fit and score lineitem in one query."""

    name = "q26_dt_train_predict"

    def run(self, ctx: Context) -> tuple[str | None, object]:
        with ctx.tracer.span("operators.build"):
            df = ctx.queries[self.name](ctx.spark, ctx.corpus_dir)
        with ctx.tracer.span("action"):
            action = digest.score_action(df, "predicted_price")
            row = action.collect()[0]
        return digest.check_scores(row, ctx.lineitem_rows, ctx.label_sum), action


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple[str, ...]  # read by its operations; warmed at set-up
    ops: tuple[Op, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_short",
            ("customer", "orders", "lineitem", "events", "documents"),
            tuple(OracledQuery(n) for n in OLAP_SHORT),
        ),
        Workload(
            "dt_pipeline",
            ("lineitem",),
            (TrainPipeline(), ScorePipeline(), TrainPredictQuery()),
        ),
    )
}
