"""Feature-vector assembly with the reference's null contract.

Reference semantics (SURVEY §1.4, SparkMLTrainer.java:129-146 /
SparkMLPredictor.java:140-154): a null feature is omitted from the
sparse vector while still occupying its slot — observationally
null ≡ 0.0.  MLlib's assembler stage cannot express this
(``handleInvalid`` skip drops the row, error fails, keep yields NaN),
so the vector is built directly: one projection that appends
``array_to_vector(array(coalesce(cast(c AS double), 0.0), …))`` —
no temporary columns, and the same values as a sparse vector would
hold.

The column always carries ML attribute-group metadata (``num_attrs``,
numeric and nominal attributes), so a tree reads the feature count
and categorical arity without a Spark job.  Nominal attributes are
the DataFrame-native equivalent of mllib's ``categoricalFeaturesInfo``
map (DecisionTreeTrainer.java:53-55).  ``pyspark.ml``'s tree reads
arity from this metadata and (like the reference, which expects the
run to FAIL on understated cardinality,
DecisionTreeRegressionTest.java:237-275) rejects out-of-range category
values at fit time.

Scale: assembly is a narrow map — no shuffle; at 100 TB it pipelines
into whatever the downstream estimator/scorer needs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame

FEATURES_COL = "__features__"


def _attrs_metadata(
    feature_list: dict[str, int], categorical_info: dict[int, int]
) -> dict:
    """ML attribute-group metadata for the assembled vector column."""
    nominal, numeric = [], []
    by_idx = {i: n for n, i in feature_list.items()}
    for idx in range(len(feature_list)):
        name = by_idx[idx]
        if idx in categorical_info:
            nominal.append(
                {"idx": idx, "name": name, "num_vals": categorical_info[idx]}
            )
        else:
            numeric.append({"idx": idx, "name": name})
    attrs: dict = {}
    if numeric:
        attrs["numeric"] = numeric
    if nominal:
        attrs["nominal"] = nominal
    return {"ml_attr": {"attrs": attrs, "num_attrs": len(feature_list)}}


def assemble_features(
    df: DataFrame,
    feature_list: dict[str, int],
    categorical_info: dict[int, int] | None = None,
    output_col: str = FEATURES_COL,
) -> DataFrame:
    """Append a vector column assembled from ``feature_list`` (in
    vector-index order) with null ≡ 0.0 semantics."""
    ordered = [n for n, _ in sorted(feature_list.items(), key=lambda kv: kv[1])]
    vector = array_to_vector(
        F.array(*(F.coalesce(F.col(n).cast("double"), F.lit(0.0)) for n in ordered))
    )
    meta = _attrs_metadata(feature_list, categorical_info or {})
    return df.select("*", vector.alias(output_col, metadata=meta))
