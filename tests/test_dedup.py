"""Replays for dedup operators not covered by the recall suite
(tests/test_dedup_recall.py)."""

from __future__ import annotations

import hashlib

from decision_tree_analytics_spark.operators.dedup import (
    URL_DOMAIN_QUOTA,
    dedup_url_quota,
)
from decision_tree_analytics_spark.sources.tables import load_table


# ------------------------------------------------------------------
# dedup_url_quota
# ------------------------------------------------------------------


def test_url_quota_replays_in_pandas(spark, sf_dir):
    out = dedup_url_quota(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    ).toPandas()
    docs["url_md5"] = docs["text"].map(
        lambda t: hashlib.md5(str(t).encode()).hexdigest()
    )
    # one output row per unique (source, url)
    uniq = docs.drop_duplicates(["source", "url_md5"])
    assert len(out) == len(uniq)
    # keeper per url = max n_chars, then min doc_id
    best = (
        docs.sort_values(["n_chars", "doc_id"], ascending=[False, True])
        .drop_duplicates(["source", "url_md5"])
        .set_index(["source", "url_md5"])["doc_id"]
    )
    for r in out.itertuples():
        assert best[(r.source, r.url_md5)] == r.doc_id
    # per-domain ranks are 1..n and the quota flag matches
    for src, grp in out.groupby("source"):
        assert sorted(grp.domain_rank) == list(range(1, len(grp) + 1))
        assert (grp.is_kept == (grp.domain_rank <= URL_DOMAIN_QUOTA)).all()
