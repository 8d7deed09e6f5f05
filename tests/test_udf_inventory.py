"""The arrow-optimized Python UDTF lane (udf_token_spans): a pure-Python
replay, the UDTF TABLE-argument capability probe, and the hypothesis
span-walk lock.  Oracle equality runs through
tests/test_oracle_queries.py; the plan lock lives in
tests/test_plans.py."""

from __future__ import annotations

import pyspark.sql.functions as F

from decision_tree_analytics_spark.operators.udf_inventory import (
    UDTF_DOC_MOD,
    UDTF_DOC_REM,
    udf_token_spans,
)


def test_token_spans_matches_python_replay(spark, sf_dir):
    """Walk every sliced doc's text in pure Python and compare the
    full span table — offsets, lengths, per-doc tiling."""
    from decision_tree_analytics_spark.sources.tables import load_table

    got = (
        udf_token_spans(spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id", "seg_idx"])
        .reset_index(drop=True)
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % UDTF_DOC_MOD == UDTF_DOC_REM)
            & F.col("text").isNotNull()
        )
        .select("doc_id", "text")
        .toPandas()
    )
    assert len(docs) > 0
    want = []
    for _, r in docs.iterrows():
        off = 0
        for i, part in enumerate(r.text.split(' ')):
            want.append((r.doc_id, i, off, len(part)))
            off += len(part) + 1
        # Segments + separators tile the text exactly.
        assert off - 1 == len(r.text)
    want.sort()
    # Non-vacuous one-to-many: the fixture must actually fan out
    # (many spans per doc), or the UDTF degenerates into a UDF.
    assert len(want) > 5 * len(docs)
    assert len(got) == len(want)
    assert (
        list(map(tuple, got.itertuples(index=False, name=None))) == want
    )


def test_udtf_table_argument_partition_by_works(spark, sf_dir):
    """Container-capability probe for the OTHER half of the UDTF
    surface: TABLE(...) PARTITION BY ... ORDER BY arguments with a
    stateful eval/terminate protocol (the plan shows the partitioning
    exchange + sort feeding ArrowEvalPythonUDTF).  The engine's
    contract ops keep using applyInPandas for per-group Python — the
    pandas-batch lane is strictly faster for aggregation — so this is
    documentation that the surface WORKS here (like the avro/protobuf
    probes document what doesn't), verified by exact per-group
    integers against the JVM groupBy."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import udtf

    from decision_tree_analytics_spark.sources.tables import load_table

    @udtf(returnType="source: string, n: bigint, chars: bigint", useArrow=True)
    class _PerSource:
        def __init__(self):
            self.n = 0
            self.chars = 0
            self.src = None

        def eval(self, row):
            self.src = row["source"]
            self.n += 1
            self.chars += int(row["n_chars"])

        def terminate(self):
            if self.src is not None:
                yield (self.src, self.n, self.chars)

    spark.udtf.register("dta_per_source_probe", _PerSource)
    load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    ).createOrReplaceTempView("dta_udtf_docs")
    out = spark.sql(
        "SELECT * FROM dta_per_source_probe("
        "TABLE(dta_udtf_docs) PARTITION BY source)"
    )
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(out)
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan
    assert "Exchange hashpartitioning" in plan  # the PARTITION BY
    got = {r.source: (r.n, r.chars) for r in out.collect()}
    want = {
        r.source: (r.n, r.chars)
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .collect()
    }
    assert got == want and len(got) > 1


def test_token_span_formula_property():
    """Hypothesis lock on the span walk both the UDTF and the oracle
    implement: for ANY token list (incl. empty tokens — consecutive /
    leading / trailing separators), the emitted (idx, start, len)
    spans must tile the joined text exactly and reconstruct every
    token by slicing — an independent spec, not a re-run of the same
    loop."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    token = st.text(
        alphabet=st.characters(blacklist_characters=" "), max_size=8
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(token, min_size=1, max_size=20))
    def check(tokens):
        text = " ".join(tokens)
        # The walk under test (UDTF eval / oracle window-sum form).
        spans, off = [], 0
        for i, part in enumerate(text.split(" ")):
            spans.append((i, off, len(part)))
            off += len(part) + 1
        assert len(spans) == len(tokens)
        # Independent spec: slice-reconstruction + exact tiling.
        for (i, start, ln), tok in zip(spans, tokens):
            assert text[start : start + ln] == tok
            if start + ln < len(text):
                assert text[start + ln] == " "  # separator follows
        assert spans[-1][1] + spans[-1][2] == len(text)

    check()
