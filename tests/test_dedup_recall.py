"""Near-dup recall: genuine near-duplicates must surface as LSH
candidate pairs, and unrelated docs must not flood the bucket join.

The oracle tests prove Spark computes the same pairs as DuckDB; this
test proves the pairs are the RIGHT ones when true near-dups exist —
by running the same pipeline functions on a crafted corpus
(registered over a temp parquet dir so load_table sees it)."""

from __future__ import annotations

import pyspark.sql.functions as F

from decision_tree_analytics_spark.operators.dedup import (
    dedup_minhash_lsh_pairs,
    dedup_simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "the bird sing a song about data pipelines at scale every morning"
)
NEAR_DUP = BASE.replace("morning", "evening")  # one-token edit
UNRELATED = (
    "completely different content talking about spark shuffles and "
    "catalyst optimizer rules with no overlap in phrasing whatsoever here"
)


def _write_corpus(spark, tmp_path):
    rows = [
        (0, BASE, "en", "src0", len(BASE)),
        (1, NEAR_DUP, "en", "src1", len(NEAR_DUP)),
        (2, UNRELATED, "en", "src2", len(UNRELATED)),
        (3, BASE, "en", "src3", len(BASE)),  # exact dup of 0
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_minhash_finds_true_near_dups(spark, tmp_path):
    sf_dir = _write_corpus(spark, tmp_path)
    pairs = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # one-token edit caught
    # the unrelated doc must not pair with anything
    assert not any(2 in p for p in pairs)


def test_simhash_distance_reflects_similarity(spark, tmp_path):
    sf_dir = _write_corpus(spark, tmp_path)
    sh = {r.doc_id: r.simhash32 for r in dedup_simhash(spark, sf_dir).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sh[0] == sh[3]  # identical docs, identical fingerprint
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[2])  # near-dup closer than unrelated


def test_canonical_keeps_longest_per_cluster(spark, sf_dir):
    """dedup_canonical: exactly one keeper per component, and the
    keeper has the component's max n_chars (doc_id breaks ties)."""
    import pandas as pd

    from decision_tree_analytics_spark.operators.dedup import dedup_canonical
    from decision_tree_analytics_spark.sources.tables import load_table

    got = dedup_canonical(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).toPandas()
    merged = got.merge(docs, on="doc_id")
    assert (merged.groupby("component_id")["is_kept"].sum() == 1).all()
    for _, grp in merged.groupby("component_id"):
        best = grp.sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        ).iloc[0]
        keeper = grp[grp.is_kept == 1].iloc[0]
        assert keeper.doc_id == best.doc_id
        assert (grp.canonical_id == best.doc_id).all()


def test_canonical_snapshot_matches_inline_and_reuses(spark, sf_dir, tmp_path, monkeypatch):
    """dedup_canonical_snapshot must equal dedup_canonical exactly,
    and a second call must READ the published labels, not recompute
    (exactly one snapshot id after two calls)."""
    import os

    from decision_tree_analytics_spark.operators.dedup import (
        dedup_canonical,
        dedup_canonical_snapshot,
    )
    from decision_tree_analytics_spark.sources.snapshots import SnapshotTable

    monkeypatch.setenv("SPARK_GRAFT_SNAPSHOT_DIR", str(tmp_path / "snaps"))
    rows = lambda df: sorted(map(tuple, df.collect()))
    first = dedup_canonical_snapshot(spark, sf_dir)
    assert rows(first) == rows(dedup_canonical(spark, sf_dir))
    assert rows(dedup_canonical_snapshot(spark, sf_dir)) == rows(first)
    (label_dir,) = os.listdir(tmp_path / "snaps")
    t = SnapshotTable(spark, str(tmp_path / "snaps" / label_dir))
    assert t.snapshot_ids() == [1]  # second call reused, not re-published


def test_substring_finds_planted_span_exactly(spark, tmp_path):
    """dedup_substring must report the planted shared run with the
    exact start offsets and token length, and no span for documents
    with < K tokens of verbatim overlap."""
    from decision_tree_analytics_spark.operators.dedup import dedup_substring

    shared = " ".join(f"tok{i}" for i in range(12))  # 12-token run
    a = "alpha beta " + shared + " gamma delta"
    b = "one two three four " + shared + " five"
    c = "totally disjoint words nothing else matches anything here at all"
    rows = [
        (0, a, "en", "src0", len(a)),
        (1, b, "en", "src1", len(b)),
        (2, c, "en", "src2", len(c)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): (r.start_a, r.start_b, r.span_tokens)
        for r in dedup_substring(spark, d).collect()
    }
    # doc0 tokens: alpha beta tok0..tok11 gamma delta → run starts at 3
    # doc1 tokens: one two three four tok0..tok11 five → run starts at 5
    assert got == {(0, 1): (3, 5, 12)}


def test_substring_stats_merges_overlaps_and_fracs(spark, tmp_path):
    """Per-doc coverage: the planted 12-token run covers 12 of doc0's
    16 tokens (0.75) and 12 of doc1's 17 (span start differs); the
    disjoint doc reports nothing."""
    from decision_tree_analytics_spark.operators.dedup import (
        dedup_substring_stats,
    )

    shared = " ".join(f"tok{i}" for i in range(12))
    a = "alpha beta " + shared + " gamma delta"          # 16 tokens
    b = "one two three four " + shared + " five"          # 17 tokens
    c = "totally disjoint words nothing else matches anything here at all"
    rows = [
        (0, a, "en", "src0", len(a)),
        (1, b, "en", "src1", len(b)),
        (2, c, "en", "src2", len(c)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r.doc_id: r.asDict() for r in dedup_substring_stats(spark, d).collect()}
    assert set(got) == {0, 1}
    assert got[0]["dup_tokens"] == 12 and got[0]["n_tokens"] == 16
    assert got[0]["dup_frac"] == 0.75
    assert got[1]["dup_tokens"] == 12 and got[1]["n_tokens"] == 17
    assert got[0]["n_regions"] == 1 and got[1]["n_regions"] == 1


def test_bloom_prefilter_never_false_negative(spark, tmp_path):
    """A true duplicate straddling the store/batch split MUST come
    out bloom-positive (bloom filters have no false negatives — the
    property the prefilter's skip-the-join optimization rests on),
    and the confusion counts must stay consistent."""
    from decision_tree_analytics_spark.operators.dedup import (
        dedup_bloom_prefilter,
    )

    rows = [
        # store side (doc_id % 10 != 0)
        (1, BASE, "en", "src1", len(BASE)),
        (2, UNRELATED, "en", "src2", len(UNRELATED)),
        (3, NEAR_DUP, "en", "src3", len(NEAR_DUP)),
        # batch side (doc_id % 10 == 0): 10 duplicates BASE exactly
        (10, BASE, "en", "src4", len(BASE)),
        (20, "something never stored before at all", "en", "src5", 37),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = dedup_bloom_prefilter(spark, d).collect()[0]
    assert out.n_store == 3 and out.n_batch == 2
    assert out.n_true_dup == 1
    # no false negatives: every true dup is bloom-positive
    assert out.n_bloom_pos >= out.n_true_dup
    assert out.n_false_pos == out.n_bloom_pos - out.n_true_dup


def test_pit_features_exclude_label_time_ties(spark, tmp_path):
    """Point-in-time correctness under TIES: an event at exactly the
    label's timestamp must NOT leak into the label's features (the
    frame ends at 1 PRECEDING on the integer time key), while strictly
    earlier events count in both the lifetime and trailing windows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from decision_tree_analytics_spark.operators._rules import US_PER_DAY
    from decision_tree_analytics_spark.operators.analytics import rel_pit_features

    t0 = 1_700_000_000_000_000  # label instant, epoch-µs
    day = US_PER_DAY
    rows = [
        # user 1: one event strictly before, one AT the label instant
        (1, t0 - day, 1, "view", 10.0),
        (2, t0, 1, "click", 99.0),          # same µs as the label
        (3, t0, 1, "purchase", 5.0),        # the label event
        # user 2: only later events — features must be zero
        (4, t0, 2, "purchase", 1.0),
        (5, t0 + day, 2, "view", 7.0),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    out = {r.event_id: r for r in rel_pit_features(spark, str(tmp_path)).collect()}
    assert set(out) == {3, 4}
    # the tied click at t0 must NOT count; the day-old view must
    assert out[3].n_prior == 1 and out[3].sum_prior == 10.0
    assert out[3].n_7d == 1
    assert out[4].n_prior == 0 and out[4].sum_prior == 0.0 and out[4].n_7d == 0


def test_dtw_profile_zero_for_single_user(spark, tmp_path):
    """DTW identity: with ONE user in the corpus the reference profile
    IS that user's own profile (global sum / 1), so the warped
    distance along the diagonal must be exactly 0 — while a second
    corpus with a day-shifted twin yields a small nonzero distance
    (the elastic alignment absorbs the shift where Euclidean
    distance would not)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from decision_tree_analytics_spark.operators._rules import US_PER_DAY
    from decision_tree_analytics_spark.operators.udf_inventory import udf_dtw_profile

    day_us = US_PER_DAY
    base = 1_700_000_000_000_000
    def write(dirpath, rows):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        dirpath.mkdir()
        pq.write_table(table, str(dirpath / "events.parquet"))

    solo = tmp_path / "solo"
    write(solo, [(i, base + i * day_us, 1, float(10 * (i + 1))) for i in range(8)])
    out = udf_dtw_profile(spark, str(solo)).collect()
    assert len(out) == 1
    assert out[0].dtw == 0.0
    assert out[0].n_active_days == 8


def test_paragraph_dedup_keep_first_on_planted_dups(spark, tmp_path):
    """dedup_paragraph: a 20-token paragraph planted verbatim in three
    docs keeps the first (doc_id, pid) occurrence and flags the other
    two; a unique doc reports zero removed."""
    from decision_tree_analytics_spark.operators.dedup import (
        PARA_TOKENS,
        dedup_paragraph,
    )

    para = " ".join(f"w{i}" for i in range(PARA_TOKENS))
    uniq0 = " ".join(f"x{i}" for i in range(PARA_TOKENS))
    uniq3 = " ".join(f"z{i}" for i in range(7))  # short tail paragraph
    rows = [
        (0, uniq0 + " " + para, "en", "s", 0),   # para is pid 1 (first)
        (1, para + " " + uniq0, "en", "s", 0),   # dup at pid 0
        (2, para, "en", "s", 0),                 # dup, whole doc
        (3, uniq3, "en", "s", 0),                # unique short doc
    ]
    # uniq0 appears in docs 0 and 1: pid0 of doc0 keeps, pid1 of doc1
    # removed.  So doc0: 2 paras 0 removed; doc1: 2 paras 2 removed;
    # doc2: 1 para 1 removed; doc3: 1 para 0 removed.
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r.doc_id: (r.n_paras, r.n_removed, r.removed_frac)
        for r in dedup_paragraph(spark, d).collect()
    }
    assert got == {
        0: (2, 0, 0.0),
        1: (2, 2, 1.0),
        2: (1, 1, 1.0),
        3: (1, 0, 0.0),
    }
