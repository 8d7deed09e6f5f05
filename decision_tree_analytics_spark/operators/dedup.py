"""Deduplication operators — exact and near-dup families.

The reference's only dedup-adjacent primitive is keep-first semantics
(SURVEY Q16/Q24); the north star (BASELINE.json) asks for the full
LLM-corpus dedup toolbox.  All hashing here is **content-derived
(md5)**, not engine-seeded, so every stage — including MinHash
signatures and LSH bands — is reproducible across engines and across
cluster topologies, and each query has a DuckDB oracle.  (Spark's
builtin ``MinHashLSH`` draws engine-private random coefficients; a
content-hash scheme gives the same recall with portable results.)

Scale design:

* exact dedup groups on a 128-bit fingerprint, never on raw text —
  the shuffle moves 16-byte keys, not documents;
* MinHash: explode shingles → per-(doc, hash-index) min-aggregate
  (partial agg collapses before the shuffle) → band keys → bucket
  self-join.  Cost is O(total shingles × k); the bucket join only
  touches colliding groups — this is the 100 TB near-dup path;
* SimHash: one explode over (token × 32 bit-positions) then a single
  groupBy — embarrassingly parallel;
* pairwise Jaccard is quadratic and therefore only ever run on a
  bounded candidate set (LSH buckets, or the explicit subset here).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators._loop import checkpoint
from decision_tree_analytics_spark.operators._parts import label_parts, spread
from decision_tree_analytics_spark.operators._rules import hex_int, round6
from decision_tree_analytics_spark.sources.tables import (
    load_table,
    parquet_footer_tag,
)

MINHASH_K = 16  # signature length
# rows-per-band sets the LSH similarity threshold ≈ (1/b)^(1/r):
# r=2, b=8 → ~0.35, tuned to catch one-edit near-dups (J≈0.8) with
# P≈1-(1-J²)⁸ > 0.999 while random word-salad docs (J≈0.05) stay out.
MINHASH_BAND_ROWS = 2


def tokens() -> Column:
    """The engine's one tokenizer: lower(trim(text)) split on single
    spaces."""
    return F.split(F.lower(F.trim(F.col("text"))), " ")


def fingerprint_col(text_col: str = "text") -> Column:
    """The engine's one exact-dedup fingerprint definition —
    md5(lower(trim(text))).  Batch dedup, the incremental store, and
    the streaming sink must all share it: two spellings that drift
    would silently stop matching duplicates across paths."""
    return F.md5(F.lower(F.trim(F.col(text_col))))


def _word_shingles(toks: Column, n: int = 3) -> Column:
    """n-word shingles from a *materialized* token array column.

    Callers must bind the tokenization to a real column first
    (``select(tokens().alias("toks"))``) — referencing the split()
    expression inside the lambda would re-tokenize the document for
    every element_at lookup.  slice() yields an empty array for short
    docs (sequence() would produce a descending [1,0] — avoid)."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    return F.transform(
        F.slice(toks, 1, k),
        lambda x, i: F.concat_ws(
            " ", x, *[F.element_at(toks, i + 1 + j) for j in range(1, n)]
        ),
    )


# ------------------------------------------------------------------
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5(normalized text) — group keys are 16-byte
    hashes so the shuffle never carries document bodies.  Keeps the
    lowest doc_id (reference keep-first contract)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(fingerprint_col().alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").cast("long").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------------------
MINHASH_PRIME = 4294967291  # largest 32-bit prime


def _minhash_wide(d: DataFrame) -> DataFrame:
    """(doc_id, h0..h{k-1}) — one row per doc, column i holding the
    min of the i-th Carter-Wegman hash over the doc's shingles.

    One md5 per shingle; the k hash family is g_i = (h1 + i·h2) mod p
    with (h1, h2) carved from the md5 hex — pure integer arithmetic,
    so the k-way family costs k multiply-adds instead of k extra
    md5s, and signatures shuffle as 8-byte longs instead of 32-char
    strings.  Content-derived, hence engine-portable (the DuckDB
    oracle parses the same hex).

    Shape at scale: one explode of shingles, k expressions, k-column
    min-aggregate with map-side partial combine."""
    d = spread(d, "doc_id")
    toked = d.select("doc_id", tokens().alias("toks"))
    shingled = toked.select(
        "doc_id",
        F.explode(F.array_distinct(_word_shingles(F.col("toks")))).alias("shingle"),
    )
    base = F.md5(F.col("shingle"))
    h1 = hex_int(base)
    h2 = hex_int(base, 9, 8) * 2 + 1
    hashed = shingled.select(
        "doc_id",
        *[((h1 + i * h2) % MINHASH_PRIME).alias(f"h{i}") for i in range(MINHASH_K)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(MINHASH_K)]
    )


def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature, one row per (doc, hash index)."""
    d = load_table(spark, sf_dir, "documents")
    wide = _minhash_wide(d)
    stack = ", ".join(f"CAST({i} AS BIGINT), h{i}" for i in range(MINHASH_K))
    return wide.select(
        "doc_id", F.expr(f"stack({MINHASH_K}, {stack}) AS (h, sig)")
    ).select("doc_id", "h", F.col("sig").cast("long").alias("sig"))


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: band = md5 of 4 consecutive sig values;
    docs sharing any band bucket are candidates (doc_a < doc_b).
    Band keys are derived from the wide signature row — no second
    aggregation; the only joins are on 32-byte band keys."""
    return _lsh_pairs_from(load_table(spark, sf_dir, "documents"))


def _lsh_pairs_from(d: DataFrame) -> DataFrame:
    """LSH candidate pairs over an arbitrary documents frame.

    Signatures are per-document and a pair's candidacy depends only on
    its two members, so pair generation COMMUTES with any row filter
    on the corpus — dedup_lsh_recall_eval exploits this to evaluate on
    a deterministic slice."""
    wide = _minhash_wide(d)
    n_bands = MINHASH_K // MINHASH_BAND_ROWS
    band_cols = []
    for b in range(n_bands):
        cols = [F.col(f"h{i}") for i in range(b * MINHASH_BAND_ROWS, (b + 1) * MINHASH_BAND_ROWS)]
        band_cols.append(F.md5(F.concat_ws(",", *cols)).alias(f"b{b}"))
    stack = ", ".join(f"{b}, b{b}" for b in range(n_bands))
    bands = wide.select("doc_id", *band_cols).select(
        "doc_id", F.expr(f"stack({n_bands}, {stack}) AS (band, band_key)")
    )
    # The self-join would recompute the whole signature pipeline for
    # each side; persist the (k/r × 40-byte per doc) band table — at
    # scale this is the signature store you'd write to parquet.  The
    # cache is released when the caller drops the result (tether below).
    bands = bands.persist()
    a, b = bands.alias("a"), bands.alias("b")
    result = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").cast("long").alias("doc_a"),
            F.col("b.doc_id").cast("long").alias("doc_b"),
        )
        .distinct()
    )
    return tether_cache(result, bands)


# ------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over the distinct-token set.

    Each token's 32 hash bits come from its first 8 md5 hex digits;
    per bit position the ±1 votes are summed and the sign forms the
    fingerprint bit.  Pure explode→groupBy — no shuffle of text."""
    d = load_table(spark, sf_dir, "documents")
    d = spread(d, "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("tok")
    ).withColumn("th", F.md5("tok"))
    bits = toks.select(
        "doc_id",
        "th",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"),
    )
    # nibble value of hex digit j//4, bit (3 - j%4) of that nibble —
    # identical arithmetic to the DuckDB oracle (strpos/instr both
    # 1-based, floor division, pow shift).
    bit = F.expr(
        "floor((instr('0123456789abcdef',"
        " substr(th, cast(floor(j / 4) as int) + 1, 1)) - 1)"
        " / pow(2, 3 - j % 4)) % 2"
    )
    votes = bits.withColumn("vote", (bit * 2 - 1)).groupBy("doc_id", "j").agg(
        F.sum("vote").alias("v")
    )
    fingerprint = votes.withColumn(
        "contrib",
        F.when(F.col("v") > 0, F.pow(F.lit(2.0), F.col("j").cast("double")).cast("long")).otherwise(F.lit(0)),
    ).groupBy("doc_id").agg(F.sum("contrib").cast("long").alias("simhash32"))
    return fingerprint.select(F.col("doc_id").cast("long").alias("doc_id"), "simhash32")


# ------------------------------------------------------------------
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over a bounded candidate set
    (doc_id < 100): explode distinct tokens, self-join on token,
    |A∩B| / (|A|+|B|-|A∩B|) ≥ 0.5.

    At scale the candidate set comes from LSH buckets
    (dedup_minhash_lsh_pairs), never from a full self-join."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jacc = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            (
                F.col("n_common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return jacc


# ------------------------------------------------------------------
def dedup_components(spark: SparkSession, sf_dir: str, max_iter: int = 10) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    pair graph, labeling every document with its cluster's minimum
    doc_id (the canonical keeper).  This is the step that turns
    pairwise near-dup hits into "keep one per group" — pairs alone
    over-delete when A~B and B~C but A≁C.

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; a fixpoint is
    reached within the cluster diameter (near-dup text clusters are
    tiny — pairs and triples — so a handful of rounds close it; a
    planet-scale graph would switch to the alternating small-star/
    large-star variant for O(log n) rounds).  Each round is one join +
    one partial-min aggregate on 8-byte keys; the driver only checks a
    one-row convergence aggregate (sum of labels strictly decreases
    until fixpoint) — no row data ever leaves the cluster."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    parts = label_parts(sf_dir, "documents")
    return connected_components(docs, pairs, max_iter=max_iter, parts=parts)


def connected_components(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 15,
    parts: int | None = None,
) -> DataFrame:
    """Min-label propagation with pointer jumping over an undirected
    pair graph; see dedup_components.  ``docs``: (doc_id); ``pairs``:
    (doc_a, doc_b).

    Each round combines a neighbor-min step with a pointer-jumping
    step (label(x) ← label(label(x))), so convergence is
    O(log diameter) rounds, not O(diameter) — a 2^15-long chain closes
    within the default cap.  Exhausting the cap without reaching the
    fixpoint raises instead of silently returning a partial labeling
    (a wrong answer must never look like a converged one).

    ``parts``: materialized partition count of every round's
    checkpoint (operators/_loop.py); the dedup callers pass
    ``_parts.label_parts``."""
    edges = checkpoint(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))),
        parts,
    )
    labels = checkpoint(
        docs.select("doc_id", F.col("doc_id").alias("component_id")), parts
    )
    prev_sum = labels.agg(F.sum("component_id")).first()[0]
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component_id").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels.doc_id == nbr_min.src, "left").select(
            "doc_id",
            F.least(
                F.col("component_id"), F.coalesce("nbr_label", "component_id")
            ).alias("component_id"),
        )
        # Pointer jumping: follow the label's own label (always ≤).
        parents = stepped.select(
            F.col("doc_id").alias("p_doc"), F.col("component_id").alias("p_label")
        )
        new_labels = checkpoint(
            stepped.join(parents, stepped.component_id == parents.p_doc)
            .select("doc_id", F.col("p_label").alias("component_id")),
            parts,
        )
        new_sum = new_labels.agg(F.sum("component_id")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:  # fixpoint
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds"
        )
    return tether_cache(labels, labels)


# ------------------------------------------------------------------
# Incremental (delta-style) dedup — the most common production dedup
# shape: a new batch arrives, the corpus's fingerprint store is
# already persisted, and only first-seen rows may pass.
DELTA_SPLIT = 250  # doc_id boundary for the contract query's two batches


def incremental_dedup(new_batch: DataFrame, store: DataFrame) -> DataFrame:
    """Merge a new batch against a persisted fingerprint store and
    return only the batch's first-seen uniques.

    ``new_batch`` must carry (fingerprint, doc_id); ``store`` is the
    persisted fingerprint table (one row per known fingerprint).  Two
    stages, both over 16-byte md5 keys — document bodies never move:

    1. keep-first within the batch (groupBy fingerprint, min doc_id —
       partial agg collapses duplicates map-side, SURVEY Q24 contract);
    2. left-anti join against the store to drop anything already seen.

    At 100 TB the store is a parquet/Delta table bucketed by
    fingerprint; the anti-join then co-locates with zero shuffle of
    the store side.  Appending the survivors' fingerprints to the
    store is the caller's commit step (see tests for the golden
    two-batch cycle)."""
    fresh = new_batch.groupBy("fingerprint").agg(
        F.min("doc_id").cast("long").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return fresh.join(
        store.select("fingerprint"), "fingerprint", "left_anti"
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: documents doc_id < DELTA_SPLIT form the
    persisted store, the rest arrive as the new batch; return the new
    batch's first-seen uniques (anti-join over the fingerprint store)."""
    d = load_table(spark, sf_dir, "documents")
    with_fp = d.select(fingerprint_col().alias("fingerprint"), "doc_id")
    store = with_fp.filter(F.col("doc_id") < DELTA_SPLIT).select(
        "fingerprint"
    ).distinct()
    new_batch = with_fp.filter(F.col("doc_id") >= DELTA_SPLIT)
    return incremental_dedup(new_batch, store)


# ------------------------------------------------------------------
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: candidates from the LSH
    buckets (similarity.sim_ann_buckets), confirmed by exact cosine ≥
    0.9.  The quadratic stage only ever sees same-bucket candidates —
    the embedding twin of MinHash-LSH → Jaccard-verify."""
    from decision_tree_analytics_spark.operators.similarity import _bucket_pairs, _cos

    pairs, both = _bucket_pairs(spark, sf_dir)
    result = (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").cast("long").alias("vec_a"),
            F.col("id_b").cast("long").alias("vec_b"),
            round6(_cos("va", "vb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.9)
        .distinct()
    )
    return tether_cache(result, both)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup scoring over the LSH candidate pairs:
    estimated CONTAINMENT of the smaller shingle set in the larger
    (quote/boilerplate/subset detection — Jaccard misses a short doc
    fully embedded in a long one, containment doesn't).

    From each candidate pair's signature agreement m/K ≈ J and the
    exact per-doc distinct-shingle counts:
    |A∪B| = (|A|+|B|)/(1+J), |A∩B| = J·|A∪B|, containment =
    |A∩B|/min(|A|,|B|).

    Scale: the persisted signature table feeds band-bucketing AND the
    two pair-side joins (computed once); the per-doc size is a
    map-only array expression; everything downstream of the bucket
    join is bounded by the candidate-pair count."""
    d = load_table(spark, sf_dir, "documents")
    wide = _minhash_wide(d).persist()
    n_bands = MINHASH_K // MINHASH_BAND_ROWS
    band_cols = []
    for b in range(n_bands):
        cols = [
            F.col(f"h{i}")
            for i in range(b * MINHASH_BAND_ROWS, (b + 1) * MINHASH_BAND_ROWS)
        ]
        band_cols.append(F.md5(F.concat_ws(",", *cols)).alias(f"b{b}"))
    stack = ", ".join(f"{b}, b{b}" for b in range(n_bands))
    bands = wide.select("doc_id", *band_cols).select(
        "doc_id", F.expr(f"stack({n_bands}, {stack}) AS (band, band_key)")
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    m = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    ).cast("long")
    toked = d.select("doc_id", tokens().alias("toks"))
    sizes = toked.select(
        "doc_id",
        F.size(F.array_distinct(_word_shingles(F.col("toks"))))
        .cast("long")
        .alias("n_sh"),
    )
    agree = (
        pairs.join(wa, "doc_a").join(wb, "doc_b").select(
            "doc_a", "doc_b", m.alias("n_agree")
        )
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_sh_b"))
    j = F.col("n_agree") / float(MINHASH_K)
    cont = (
        j * (F.col("n_sh_a") + F.col("n_sh_b"))
        / ((1 + j) * F.least("n_sh_a", "n_sh_b"))
    )
    result = (
        agree.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            "n_agree",
            "n_sh_a",
            "n_sh_b",
            round6(j).alias("est_jaccard"),
            round6(cont).alias("est_containment"),
        )
    )
    return tether_cache(result, wide)


# ------------------------------------------------------------------
# Prefix-filter threshold 0.7 as an exact fraction — float 0.7·n can
# land a hair above the true product and over-shrink the prefix, so
# all threshold arithmetic stays integer on both engines.
PREFIX_T_NUM, PREFIX_T_DEN = 7, 10


def dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at 3-shingle-Jaccard ≥ 0.7 via
    prefix filtering (AllPairs/PPJoin candidate generation).  Unlike
    the MinHash-LSH path this is lossless: a pair with J ≥ t is
    *guaranteed* to share an element inside both docs' prefixes, so
    the output equals a brute-force all-pairs scan — which is exactly
    what the DuckDB oracle runs, making the oracle a proof of recall,
    not just of agreement.

    Shingles, not tokens: word sets over a small vocabulary are
    non-selective (most doc pairs share most words — a token-level
    t=0.7 join returns ~40% of ALL pairs on this corpus), while
    3-word shingles are near-unique outside true near-dups, so both
    the output and the candidate buckets stay small.

    Prefix rule: order every doc's distinct shingles by ascending
    corpus frequency (rarest first, ties by value), keep the first
    n - ⌈t·n⌉ + 1.  Rare shingles front-load the prefixes; a df=1
    shingle generates no candidates at all.

    Scale shape: shingle explode → corpus-frequency join
    (shingle-keyed shuffle) → per-doc rank window (doc-keyed, bounded
    rows) → prefix-bucket self-join (Σ bucket², buckets capped by
    rarity) → intersection count only over surviving candidates.  No
    stage is quadratic in the corpus."""
    return _prefix_join_from(load_table(spark, sf_dir, "documents"))


def _prefix_join_from(d: DataFrame) -> DataFrame:
    """Exact J ≥ 0.7 self-join over an arbitrary documents frame.

    The prefix ordering uses corpus-local shingle frequencies, but the
    OUTPUT (all pairs with true Jaccard ≥ t) is corpus-independent —
    prefix filtering is lossless for any corpus — so the result over a
    filtered corpus equals the full-corpus result restricted to pairs
    with both endpoints in the filter."""
    from pyspark.sql import Window

    d = spread(d, "doc_id")
    toked = d.select("doc_id", tokens().alias("toks"))
    toks = toked.select(
        "doc_id",
        F.explode(F.array_distinct(_word_shingles(F.col("toks")))).alias("tok"),
    ).persist()
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # integer ceil(t·n) = (t_num·n + t_den - 1) div t_den
    plen = (
        F.col("n")
        - F.expr(f"({PREFIX_T_NUM} * n + {PREFIX_T_DEN - 1}) div {PREFIX_T_DEN}")
        + 1
    )
    ranked = (
        toks.join(freq, "tok")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "tok")
            ),
        )
        .join(sizes, "doc_id")
    )
    pref = ranked.filter(F.col("rk") <= plen).select("doc_id", "tok")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    union_n = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    result = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("n_inter") * PREFIX_T_DEN >= PREFIX_T_NUM * union_n)
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            round6(F.col("n_inter") / union_n).alias("jaccard"),
        )
    )
    return tether_cache(result, toks)


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final step of the near-dup pipeline: map every document to its
    cluster's canonical representative and flag the keepers.

    ``dedup_components`` labels clusters; the representative is the
    cluster's longest document (``n_chars`` DESC, doc_id ASC as the
    unique tie-break — rule 5), the "keep best, not first" policy a
    training-data pipeline actually wants (the longest variant usually
    subsumes its truncated near-duplicates).

    Scale: the ranking window partitions by component_id (near-dup
    clusters are small by construction).  The canonical table has one
    row per component — and components include every singleton
    document, so it is O(|corpus|), NOT broadcastable.  The join back
    therefore shuffles on component_id; the window just hash-
    partitioned `labeled` by that same key, so the exchange is reused
    and the join costs no extra shuffle (locked by
    tests/test_plans.py::test_dedup_canonical_no_broadcast).
    Output is one row per document: (doc_id, component_id,
    canonical_id, is_kept)."""
    comp = dedup_components(spark, sf_dir)
    return _canonical_from_labels(spark, sf_dir, comp)


def _canonical_from_labels(
    spark: SparkSession, sf_dir: str, comp: DataFrame
) -> DataFrame:
    """Canonical selection over an existing (doc_id, component_id)
    labeling — shared by dedup_canonical (inline recompute) and
    dedup_canonical_snapshot (persisted labels)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("d_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    labeled = comp.join(docs, comp.doc_id == docs.d_id).select(
        "doc_id", "component_id", "n_chars"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    canon = (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("component_id").alias("c_id"),
            F.col("doc_id").alias("canonical_id"),
        )
    )
    return labeled.join(
        canon, labeled.component_id == canon.c_id
    ).select(
        "doc_id",
        "component_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).cast("long").alias("is_kept"),
    )


def dedup_semantic_components(
    spark: SparkSession, sf_dir: str, max_iter: int = 10
) -> DataFrame:
    """Semantic duplicate clusters: connected components over the
    embedding-cosine near-dup graph (dedup_embedding_neardup's
    SRP-bucketed pairs at cos ≥ 0.9) — the vector-space twin of
    dedup_components, catching paraphrase/translation duplicates that
    no lexical shingle overlap can see.

    Same scale story as the lexical pipeline: candidates come from the
    LSH bucket join (never all-pairs), and the min-label/pointer-
    jumping iteration is one join + partial-min per round with an
    eager checkpoint per round.  Output labels EVERY vector
    (singletons label themselves)."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("doc_id")
    )
    pairs = dedup_embedding_neardup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    parts = label_parts(sf_dir, "embeddings")
    comp = connected_components(vecs, pairs, max_iter=max_iter, parts=parts)
    return comp.select(
        F.col("doc_id").alias("vec_id"),
        F.col("component_id").alias("cluster_id"),
    )


def component_labels_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component labels via the write-audit-publish snapshot store —
    the production shape for expensive derived state: compute the
    minhash→LSH→connected-components labeling ONCE per corpus
    generation, audit it, publish atomically, and let every downstream
    consumer (canonical selection, train manifest, reporting) read the
    persisted table instead of recomputing the whole pipeline per
    query (VERDICT r2 item 4: dedup_canonical and ns_train_manifest
    were independently paying the full upstream recompute).

    The snapshot directory is keyed by the source file's CONTENT
    identity — an md5 of its parquet footer (schema + row-group
    manifest + column statistics), not driver os.stat (r4 VERDICT:
    path/size/mtime identity assumed a shared filesystem; object
    stores have no stable mtime and replicas can differ).  A
    regenerated corpus changes its footer and simply misses and
    recomputes; a byte-identical rewrite at any path/mtime keeps its
    labels.  Audit before publish: the labeling must cover every
    document exactly once and every label must itself be a member doc
    — a violated invariant aborts the commit, so readers never see a
    bad labeling."""
    import os

    tag = parquet_footer_tag(os.path.join(sf_dir, "documents.parquet"))
    from decision_tree_analytics_spark.sources.snapshots import (
        NoPublishedSnapshot,
        SnapshotTable,
        snapshot_root,
    )

    table = SnapshotTable(
        spark, os.path.join(snapshot_root(), f"dedup_labels_{tag}")
    )
    try:
        return table.read()
    except NoPublishedSnapshot:
        pass
    labels = dedup_components(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    n_labels, n_distinct = labels.agg(
        F.count(F.lit(1)), F.countDistinct("doc_id")
    ).first()
    if not (n_labels == n_distinct == n_docs):
        raise RuntimeError(
            f"label audit failed: {n_labels} rows / {n_distinct} distinct "
            f"doc_ids for {n_docs} documents"
        )
    sid = table.overwrite(labels, publish=False)  # write
    table.publish(sid)  # ... audit passed → publish
    return table.read()


def dedup_canonical_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_canonical over PERSISTED component labels
    (component_labels_snapshot) instead of an inline recompute — same
    result, same oracle; the minhash→LSH→CC work is paid once per
    corpus generation instead of once per consumer query."""
    return _canonical_from_labels(
        spark, sf_dir, component_labels_snapshot(spark, sf_dir)
    )


# ------------------------------------------------------------------
SUBSTRING_K = 8  # token-gram length = minimum reportable span
SUBSTRING_STOP_CAP = 16  # drop grams present in more docs (boilerplate)


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (the suffix-array dedup of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    find maximal VERBATIM token runs of length ≥ K shared between two
    otherwise-distinct documents — the dedup granularity the doc-level
    families (exact/minhash/simhash) cannot see, and the
    highest-value one for pretraining corpora, where boilerplate and
    quoted passages recur inside unique documents.

    Spark-first re-expression — no suffix automaton: a shared
    substring of length L ≥ K is exactly a DIAGONAL RUN of L-K+1
    matching K-gram hashes, so

    1. hash every K-token gram per (doc, position) — one explode;
    2. keep gram hashes seen in 2..STOP_CAP distinct docs (the
       HAVING prunes the unique mass, the cap bounds join fan-out on
       boilerplate grams exactly like mm_chunk_dedup's stop-chunk
       cap — dropped grams can only split a span through a
       super-common run, the standard recall trade);
    3. equi-join positions on the 16-byte gram hash (doc_a < doc_b);
    4. merge matches on the same alignment diagonal (ia − ib) into
       maximal spans with one gaps-and-islands window.

    Scale: cost is O(total grams) + O(shared grams × cap²) — never
    all-pairs, never a cross product; the join and both windows key
    on bounded-fan-out hashes; the gram table is persisted once
    (three consumers: HAVING filter + both join sides) and
    tether-released.  Output: (doc_a, doc_b, start_a, start_b,
    span_tokens), 1-based token offsets, one row per maximal span."""
    result, caches = _substring_spans(spark, sf_dir)
    return tether_cache(result, *caches)


def _substring_spans(spark: SparkSession, sf_dir: str):
    """(spans, caches) — the diagonal-run span table plus the
    persisted tables backing it; callers tether them to THEIR
    result."""
    k = SUBSTRING_K
    d = load_table(spark, sf_dir, "documents")
    d = spread(d, "doc_id")
    toked = d.select("doc_id", tokens().alias("toks"))
    grams = (
        toked.select(
            "doc_id",
            F.posexplode(_word_shingles(F.col("toks"), n=k)).alias("i0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("i0") + 1).alias("i"),  # 1-based start position
            F.md5("gram").alias("g"),
        )
        .persist()
    )
    shared = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= SUBSTRING_STOP_CAP))
        .select("g")
    )
    # Persisted: the self-join consumes cand on BOTH sides — without
    # the persist Catalyst re-derives the shared-gram aggregate (two
    # exchanges) once per side.
    cand = grams.join(shared, "g").persist()
    a = cand.select(
        "g", F.col("doc_id").alias("doc_a"), F.col("i").alias("ia")
    )
    b = cand.select(
        "g", F.col("doc_id").alias("doc_b"), F.col("i").alias("ib")
    )
    pairs = a.join(b, "g").filter(F.col("doc_a") < F.col("doc_b"))
    diag = (F.col("ia") - F.col("ib")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", F.col("ia") - F.col("ib")).orderBy(
        "ia"
    )  # ia is unique within a diagonal, so row_number is deterministic
    runs = pairs.select(
        "doc_a", "doc_b", "ia", "ib", diag,
        (F.col("ia") - F.row_number().over(w)).alias("isl"),
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.min("ia").alias("start_a"),
        F.min("ib").alias("start_b"),
        (F.max("ia") - F.min("ia") + k).alias("span_tokens"),
    )
    result = spans.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )
    return result, (grams, cand)


def dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLICY readout over the substring spans — per document, how
    much of it is verbatim-duplicated elsewhere (Lee et al. drop or
    trim documents whose duplicated fraction crosses a threshold).
    Both sides of every pair-span become intervals on their own
    document; overlapping intervals merge (a passage quoted by many
    partners must count once), and the merged coverage over the doc's
    token count is the duplicated fraction.

    Interval union is one gaps-and-islands pass: running max(end)
    over earlier intervals marks where a new disjoint region starts.
    (doc_id, start, end) triples are DISTINCT before the window, so
    the (start, end) ordering is unique per doc and the running
    aggregates are deterministic.  Scale: O(intervals) with one
    window shuffle keyed by doc_id — the spans themselves are already
    bounded by the stop-gram cap."""
    from pyspark.sql import Window

    spans, caches = _substring_spans(spark, sf_dir)
    iv = (
        spans.select(
            F.col("doc_a").alias("doc_id"),
            F.col("start_a").alias("s"),
            (F.col("start_a") + F.col("span_tokens")).alias("e"),
        )
        .unionByName(
            spans.select(
                F.col("doc_b").alias("doc_id"),
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("span_tokens")).alias("e"),
            )
        )
        .distinct()
    )
    w_pme = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pme = F.max("e").over(w_pme)
    marked = iv.select(
        "doc_id",
        "s",
        "e",
        F.when(pme.isNull() | (F.col("s") > pme), 1).otherwise(0).alias("new_r"),
    )
    w_isl = Window.partitionBy("doc_id").orderBy("s", "e")
    regions = marked.select(
        "doc_id", "s", "e", F.sum("new_r").over(w_isl).alias("region")
    )
    cov = regions.groupBy("doc_id", "region").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_regions"),
        F.sum("covered").cast("long").alias("dup_tokens"),
    )
    nt = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    result = per_doc.join(nt, "doc_id").select(
        "doc_id",
        "n_regions",
        "dup_tokens",
        "n_tokens",
        (
            round6(F.col("dup_tokens") / F.col("n_tokens"))
        ).alias("dup_frac"),  # n_tokens ≥ K for any doc with a span
    )
    return tether_cache(result, *caches)


QUERIES = {
    "dedup_exact_fingerprint": dedup_exact_fingerprint,
    "dedup_minhash_signature": dedup_minhash_signature,
    "dedup_minhash_lsh_pairs": dedup_minhash_lsh_pairs,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_neardup": dedup_embedding_neardup,
    "dedup_incremental": dedup_incremental,
    "dedup_components": dedup_components,
    "dedup_containment": dedup_containment,
    "dedup_prefix_join": dedup_prefix_join,
    "dedup_canonical": dedup_canonical,
    "dedup_canonical_snapshot": dedup_canonical_snapshot,
    "dedup_semantic_components": dedup_semantic_components,
    "dedup_substring": dedup_substring,
    "dedup_substring_stats": dedup_substring_stats,
}

_SQL_TOKS = "string_split(lower(trim(text)), ' ')"
_SQL_SHINGLES = (
    "list_transform(range(1, greatest(len({t}) - 2, 0) + 1),"
    " i -> concat_ws(' ', {t}[i], {t}[i+1], {t}[i+2]))"
).format(t=_SQL_TOKS)

def _sql_sigs_from(src: str) -> str:
    """MinHash signature SQL over an arbitrary documents source
    expression (signatures are per-document, so this commutes with
    any corpus filter — see dedup_lsh_recall_eval)."""
    return (
        "SELECT doc_id, h, min((h1 + h * h2) % {p}) AS sig FROM ("
        "  SELECT doc_id,"
        "    ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,"
        "    ('0x' || substr(md5(shingle), 9, 8))::BIGINT * 2 + 1 AS h2"
        "  FROM (SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM {src})"
        f" ), range({MINHASH_K}) r(h) GROUP BY doc_id, h"
    ).format(sh=_SQL_SHINGLES, p=MINHASH_PRIME, src=src)


_SQL_SIGS = _sql_sigs_from("documents")


def _sql_lsh_pairs_from(src: str) -> str:
    """LSH candidate-pair SQL over an arbitrary documents source."""
    return (
        "WITH sigs AS (" + _sql_sigs_from(src) + "),"
        f" bands AS (SELECT doc_id, CAST(h // {MINHASH_BAND_ROWS} AS INT) AS band,"
        "   md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY h)) AS band_key"
        "   FROM sigs GROUP BY 1, 2)"
        " SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a,"
        " CAST(b.doc_id AS BIGINT) AS doc_b"
        " FROM bands a JOIN bands b"
        " ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id"
    )


def _sql_prefix_join_from(src: str) -> str:
    """Ground-truth J ≥ 0.7 SQL over an arbitrary documents source —
    the lossless answer the prefix-filtered Spark plan must reproduce
    exactly (recall proof).

    Enumerates pairs via an equi-join on shared shingles rather than
    the literal all-pairs cross product: the two are EXACTLY
    equivalent (J ≥ 0.7 > 0 forces a non-empty intersection, so every
    qualifying pair shares a shingle), and the equi-join stays
    independent of the prefix-filter logic under proof — it uses ALL
    shingles, no frequency ordering, no prefixes.  The rewrite took
    the sf0.1 oracle from 524 s (12.5M list_intersect pairs) to
    seconds (Σ df² ≈ 2.8M join rows); docs with zero shingles never
    enter the exploded table, which subsumes the old 0/0 guard."""
    return (
        f"WITH t0 AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s"
        f"   FROM {src}),"
        " toks AS (SELECT doc_id, unnest(s) AS tok FROM t0),"
        " sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),"
        " inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "     count(*) AS ni"
        "   FROM toks a JOIN toks b"
        "   ON a.tok = b.tok AND a.doc_id < b.doc_id"
        "   GROUP BY 1, 2)"
        " SELECT CAST(doc_a AS BIGINT) AS doc_a,"
        " CAST(doc_b AS BIGINT) AS doc_b,"
        " CAST(ni AS BIGINT) AS n_inter,"
        " CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,"
        " floor(ni / (sa.n + sb.n - ni) * 1e6 + 0.5) / 1e6 AS jaccard"
        " FROM inter"
        " JOIN sizes sa ON sa.doc_id = doc_a"
        " JOIN sizes sb ON sb.doc_id = doc_b"
        f" WHERE ni * {PREFIX_T_DEN} >= {PREFIX_T_NUM} * (sa.n + sb.n - ni)"
    )

# Shared CTE chain: signatures → LSH bands → candidate pairs →
# undirected edges → transitive closure → min-label components.
# Used by the dedup_components and dedup_canonical oracles (must
# follow "WITH RECURSIVE ").
_SQL_COMP_CTES = (
    "sigs AS (" + _SQL_SIGS + "),"
    f" bands AS (SELECT doc_id, CAST(h // {MINHASH_BAND_ROWS} AS INT) AS band,"
    "   md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY h)) AS band_key"
    "   FROM sigs GROUP BY 1, 2),"
    " pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
    "   FROM bands a JOIN bands b"
    "   ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),"
    " edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
    "   UNION SELECT doc_b, doc_a FROM pairs),"
    " reach(src, dst) AS ("
    "   SELECT src, dst FROM edges"
    "   UNION"
    "   SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),"
    " comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cid"
    "   FROM reach GROUP BY src)"
)

ORACLES = {
    "dedup_exact_fingerprint": (
        "SELECT md5(lower(trim(text))) AS fingerprint,"
        " CAST(min(doc_id) AS BIGINT) AS keep_doc_id,"
        " COUNT(*) AS n_copies"
        " FROM documents GROUP BY 1"
    ),
    "dedup_minhash_signature": f"SELECT doc_id, CAST(h AS BIGINT) AS h, sig FROM ({_SQL_SIGS})",
    "dedup_minhash_lsh_pairs": _sql_lsh_pairs_from("documents"),
    "dedup_containment": (
        "WITH sigs AS (" + _SQL_SIGS + "),"
        f" bands AS (SELECT doc_id, CAST(h // {MINHASH_BAND_ROWS} AS INT) AS band,"
        "   md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY h)) AS band_key"
        "   FROM sigs GROUP BY 1, 2),"
        " pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        "   FROM bands a JOIN bands b"
        "   ON a.band = b.band AND a.band_key = b.band_key"
        "     AND a.doc_id < b.doc_id),"
        " agree AS (SELECT p.doc_a, p.doc_b,"
        "   CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT)"
        "     AS m"
        "   FROM pairs p JOIN sigs sa ON sa.doc_id = p.doc_a"
        "   JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.h = sa.h"
        "   GROUP BY 1, 2),"
        f" sizes AS (SELECT doc_id,"
        f"   CAST(len(list_distinct({_SQL_SHINGLES})) AS BIGINT) AS n"
        "   FROM documents)"
        " SELECT CAST(doc_a AS BIGINT) AS doc_a,"
        " CAST(doc_b AS BIGINT) AS doc_b, m AS n_agree,"
        " sa.n AS n_sh_a, sb.n AS n_sh_b,"
        f" floor(m / {float(MINHASH_K)!r} * 1e6 + 0.5) / 1e6 AS est_jaccard,"
        f" floor((m / {float(MINHASH_K)!r}) * (sa.n + sb.n)"
        f"   / ((1 + m / {float(MINHASH_K)!r}) * least(sa.n, sb.n))"
        "   * 1e6 + 0.5) / 1e6 AS est_containment"
        " FROM agree JOIN sizes sa ON doc_a = sa.doc_id"
        " JOIN sizes sb ON doc_b = sb.doc_id"
    ),
    # Brute-force all-pairs: prefix filtering is lossless, so the
    # scalable plan must reproduce this exactly (recall proof).
    "dedup_prefix_join": _sql_prefix_join_from("documents"),
    "dedup_simhash": (
        "WITH toks AS (SELECT doc_id, md5(unnest(list_distinct("
        + _SQL_TOKS
        + "))) AS th FROM documents),"
        " bits AS (SELECT doc_id, th, j,"
        "   floor((strpos('0123456789abcdef', substr(th, CAST(j // 4 AS INT) + 1, 1)) - 1)"
        "         / pow(2, 3 - j % 4)) % 2 AS bit"
        "   FROM toks, range(32) r(j)),"
        " votes AS (SELECT doc_id, j, sum(bit * 2 - 1) AS v FROM bits GROUP BY 1, 2)"
        " SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)"
        "   AS simhash32"
        " FROM votes GROUP BY doc_id"
    ),
    "dedup_ngram_jaccard": (
        "WITH toks AS (SELECT doc_id, unnest(list_distinct(" + _SQL_TOKS + ")) AS tok"
        "   FROM documents WHERE doc_id < 100),"
        " sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),"
        " inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common"
        "   FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id"
        "   GROUP BY 1, 2)"
        " SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,"
        " CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard"
        " FROM inter JOIN sizes sa ON doc_a = sa.doc_id"
        " JOIN sizes sb ON doc_b = sb.doc_id"
        " WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5"
    ),
    # Components via transitive closure (recursive CTE): component id
    # of a node = min(doc_id) over its reachable set (incl. itself).
    "dedup_components": (
        "WITH RECURSIVE " + _SQL_COMP_CTES + " SELECT CAST(d.doc_id AS BIGINT) AS doc_id,"
        " CAST(coalesce(c.cid, d.doc_id) AS BIGINT) AS component_id"
        " FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id"
    ),
    # Canonical keeper per cluster: longest doc wins, doc_id breaks
    # ties (unique ORDER BY per rule 5).
    "dedup_canonical": (
        "WITH RECURSIVE " + _SQL_COMP_CTES + ","
        " labeled AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id,"
        "   CAST(coalesce(c.cid, d.doc_id) AS BIGINT) AS component_id,"
        "   d.n_chars FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),"
        " ranked AS (SELECT doc_id, component_id, row_number() OVER ("
        "   PARTITION BY component_id ORDER BY n_chars DESC, doc_id ASC) AS rn"
        "   FROM labeled),"
        " canon AS (SELECT component_id, doc_id AS canonical_id"
        "   FROM ranked WHERE rn = 1)"
        " SELECT l.doc_id, l.component_id, c.canonical_id,"
        " CAST(CASE WHEN l.doc_id = c.canonical_id THEN 1 ELSE 0 END AS BIGINT)"
        "   AS is_kept"
        " FROM labeled l JOIN canon c USING (component_id)"
    ),
    "dedup_incremental": (
        "WITH fp AS (SELECT md5(lower(trim(text))) AS fingerprint, doc_id"
        "   FROM documents),"
        f" store AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < {DELTA_SPLIT}),"
        " fresh AS (SELECT fingerprint,"
        "   CAST(min(doc_id) AS BIGINT) AS keep_doc_id, COUNT(*) AS n_copies"
        f"   FROM fp WHERE doc_id >= {DELTA_SPLIT} GROUP BY 1)"
        " SELECT f.fingerprint, keep_doc_id, n_copies FROM fresh f"
        " WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fingerprint = f.fingerprint)"
    ),
}


def _embedding_neardup_oracle() -> str:
    from decision_tree_analytics_spark.operators.similarity import (
        _SQL_NORMS,
        _SQL_SRP_BUCKETS,
    )

    return (
        f"WITH {_SQL_SRP_BUCKETS},"
        f" norms AS ({_SQL_NORMS}),"
        " dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot"
        "   FROM e a JOIN buckets ba ON a.vec_id = ba.vec_id"
        "   JOIN buckets bb ON ba.bucket = bb.bucket"
        "   JOIN e b ON b.vec_id = bb.vec_id AND a.i = b.i"
        "   WHERE a.vec_id < b.vec_id GROUP BY 1, 2)"
        " SELECT DISTINCT CAST(id_a AS BIGINT) AS vec_a,"
        " CAST(id_b AS BIGINT) AS vec_b,"
        " floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 AS cos_sim"
        " FROM dots JOIN norms na ON id_a = na.vec_id"
        " JOIN norms nb ON id_b = nb.vec_id"
        " WHERE floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 >= 0.9"
    )


ORACLES["dedup_embedding_neardup"] = _embedding_neardup_oracle()
# The snapshot-backed variant must produce byte-identical results to
# the inline recompute — same oracle.
ORACLES["dedup_canonical_snapshot"] = ORACLES["dedup_canonical"]


def _semantic_components_oracle() -> str:
    """Transitive closure over the embedding near-dup pair graph —
    the same SRP-bucket candidate CTEs as dedup_embedding_neardup,
    then the reach/min-label recursion of _SQL_COMP_CTES."""
    from decision_tree_analytics_spark.operators.similarity import (
        _SQL_NORMS,
        _SQL_SRP_BUCKETS,
    )

    return (
        f"WITH RECURSIVE {_SQL_SRP_BUCKETS},"
        f" norms AS ({_SQL_NORMS}),"
        " dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot"
        "   FROM e a JOIN buckets ba ON a.vec_id = ba.vec_id"
        "   JOIN buckets bb ON ba.bucket = bb.bucket"
        "   JOIN e b ON b.vec_id = bb.vec_id AND a.i = b.i"
        "   WHERE a.vec_id < b.vec_id GROUP BY 1, 2),"
        " nd AS (SELECT DISTINCT id_a AS vec_a, id_b AS vec_b"
        "   FROM dots JOIN norms na ON id_a = na.vec_id"
        "   JOIN norms nb ON id_b = nb.vec_id"
        "   WHERE floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 >= 0.9),"
        " edges AS (SELECT vec_a AS src, vec_b AS dst FROM nd"
        "   UNION SELECT vec_b, vec_a FROM nd),"
        " reach(src, dst) AS ("
        "   SELECT src, dst FROM edges"
        "   UNION"
        "   SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),"
        " comp AS (SELECT src, least(src, min(dst)) AS cid"
        "   FROM reach GROUP BY src)"
        " SELECT CAST(v.vec_id AS BIGINT) AS vec_id,"
        " CAST(coalesce(c.cid, v.vec_id) AS BIGINT) AS cluster_id"
        " FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.src"
    )


ORACLES["dedup_semantic_components"] = _semantic_components_oracle()

# Exact-substring dedup: the same diagonal-run construction, replayed
# relationally.  t[i:i+K-1] is DuckDB's INCLUSIVE slice (K elements);
# range(1, m) is exclusive of m, so i spans 1..len-K+1 exactly like
# the Spark side's 1-based posexplode positions.  Shared CTE chain
# through the maximal spans; the pair view and the per-doc stats view
# both read `spans`.
_SQL_SUBSTRING_CTES = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, i,
    md5(array_to_string(t[i:i+{SUBSTRING_K - 1}], ' ')) AS g
  FROM toks,
    LATERAL unnest(range(1, greatest(len(t) - {SUBSTRING_K - 2}, 1))) AS s(i)
),
shared AS (SELECT g FROM grams GROUP BY g
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {SUBSTRING_STOP_CAP}),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
  FROM grams a JOIN shared s ON a.g = s.g JOIN grams b ON b.g = a.g
  WHERE a.doc_id < b.doc_id),
r AS (SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
    ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia)
      AS isl
  FROM p),
spans AS (SELECT doc_a, doc_b, diag, isl,
    min(ia) AS start_a, min(ib) AS start_b,
    max(ia) - min(ia) + {SUBSTRING_K} AS span_tokens
  FROM r GROUP BY doc_a, doc_b, diag, isl)
"""

ORACLES["dedup_substring"] = _SQL_SUBSTRING_CTES + """
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
  CAST(start_a AS BIGINT) AS start_a, CAST(start_b AS BIGINT) AS start_b,
  CAST(span_tokens AS BIGINT) AS span_tokens
FROM spans
"""

ORACLES["dedup_substring_stats"] = _SQL_SUBSTRING_CTES + f"""
, iv AS (
  SELECT DISTINCT doc_id, s, e FROM (
    SELECT doc_a AS doc_id, start_a AS s, start_a + span_tokens AS e
      FROM spans
    UNION ALL
    SELECT doc_b, start_b, start_b + span_tokens FROM spans)),
m AS (SELECT doc_id, s, e,
    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv),
isl2 AS (SELECT doc_id, s, e,
    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY s, e) AS region
  FROM m),
cov AS (SELECT doc_id, region, max(e) - min(s) AS covered
  FROM isl2 GROUP BY 1, 2),
per_doc AS (SELECT doc_id, count(*) AS n_regions,
    sum(covered) AS dup_tokens FROM cov GROUP BY 1),
nt AS (SELECT doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents)
SELECT CAST(p2.doc_id AS BIGINT) AS doc_id,
  CAST(n_regions AS BIGINT) AS n_regions,
  CAST(dup_tokens AS BIGINT) AS dup_tokens,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  floor(CAST(dup_tokens AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS dup_frac
FROM per_doc p2 JOIN nt ON p2.doc_id = nt.doc_id
"""


# Deterministic evaluation slice for the recall meta-eval: 1/4 of the
# corpus → 1/16 of the brute-force ground-truth pair work.
RECALL_EVAL_MOD = 4


def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified recall of the MinHash-LSH candidate generator
    against EXACT ground truth — the measurement behind every "LSH
    trades recall for cost" claim: dedup_prefix_join is lossless at
    J ≥ 0.7 (its oracle is the brute-force proof), so a full outer
    join of the two pair sets yields true hits, misses, and the extra
    candidates LSH forwards to verification.

    This is the meta-evaluation a pipeline owner runs when tuning
    MINHASH_K / band geometry: recall tells you what the near-dup
    pass silently loses, candidate precision what the verify stage
    pays.  One |pairs|-scale full outer join on (doc_a, doc_b) —
    pair sets, not the corpus.

    Evaluated over the deterministic doc_id % RECALL_EVAL_MOD = 0
    slice on BOTH sides: a pair's truth membership (its two docs'
    Jaccard) and its candidate membership (its two docs' signatures)
    each depend only on the pair, so restriction commutes with both
    generators and the sliced recall IS the full-corpus recall
    restricted to sampled pairs — while the brute-force ground-truth
    oracle drops from O(n²) to O((n/mod)²) (~11 min → ~40 s at
    sf0.1)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % RECALL_EVAL_MOD == 0
    )
    truth = _prefix_join_from(d).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    cand = _lsh_pairs_from(d).select(
        "doc_a", "doc_b", F.lit(1).alias("c")
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.count("t").cast("long").alias("n_truth"),
        F.count("c").cast("long").alias("n_candidates"),
        F.sum(F.col("t") * F.col("c")).cast("long").alias("n_hit"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missed"),
        F.sum(F.when(F.col("t").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_extra"),
    )
    return agg.select(
        "n_truth",
        "n_candidates",
        "n_hit",
        "n_missed",
        "n_extra",
        round6(F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0))).alias(
            "recall"
        ),
        round6(
            F.col("n_hit") / F.nullif(F.col("n_candidates"), F.lit(0))
        ).alias("cand_precision"),
    )


QUERIES["dedup_lsh_recall_eval"] = dedup_lsh_recall_eval
_RECALL_SRC = f"(SELECT * FROM documents WHERE doc_id % {RECALL_EVAL_MOD} = 0)"
ORACLES["dedup_lsh_recall_eval"] = f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({_sql_prefix_join_from(_RECALL_SRC)})),
cand AS (SELECT doc_a, doc_b FROM ({_sql_lsh_pairs_from(_RECALL_SRC)})),
j AS (SELECT t.doc_a AS ta, c.doc_a AS ca
  FROM truth t FULL JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
a AS (SELECT CAST(count(ta) AS BIGINT) AS n_truth,
    CAST(count(ca) AS BIGINT) AS n_candidates,
    CAST(sum(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL
      THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
    CAST(sum(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
    CAST(sum(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_extra
  FROM j)
SELECT n_truth, n_candidates, n_hit, n_missed, n_extra,
  floor(CAST(n_hit AS DOUBLE) / nullif(n_truth, 0) * 1e6 + 0.5) / 1e6
    AS recall,
  floor(CAST(n_hit AS DOUBLE) / nullif(n_candidates, 0) * 1e6 + 0.5) / 1e6
    AS cand_precision
FROM a
"""


BLOOM_BITS = 65536  # m — sized so the sf0.1 store fills ~25%, not saturated
BLOOM_K = 4  # k — hash functions (carved from the fingerprint md5)


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-check for incremental exact dedup —
    the cheap gate a 100 TB ingest runs BEFORE the exact fingerprint
    anti-join: an incoming document whose k bloom positions are not
    all set in the store's filter is PROVABLY new and skips the
    store lookup entirely; only bloom-positives (true dups plus the
    measured false-positive tail) pay the join.

    Content-derived and engine-portable: the k positions are four
    8-hex-char slices of the document's own md5 fingerprint reduced
    mod m — no engine bloom builtin (those are seeded), so the DuckDB
    oracle reproduces the filter bit-for-bit.  The "bit array"
    materializes as the DISTINCT store-position set: ≤ m = BLOOM_BITS rows
    regardless of corpus size, i.e. a broadcastable constant — the
    probe side is map-only after that broadcast.  Output: one row of
    filter stats (fill rate) and the measured confusion (true dups,
    false positives, FP rate among actual non-dups) — the numbers
    that size m and k for a target ingest volume."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint_col().alias("fp")
    )
    store = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    def pos_array():
        return F.array(
            *[hex_int("fp", 1 + 8 * j, 8) % BLOOM_BITS for j in range(BLOOM_K)]
        )

    bits = (
        store.select(F.explode(pos_array()).alias("pos")).distinct()
    )
    probe = batch.select(
        "doc_id", "fp", F.explode(pos_array()).alias("pos")
    )
    per = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "fp")
        .agg(
            F.countDistinct("pos").alias("np"),
            F.countDistinct(F.when(F.col("hit") == 1, F.col("pos"))).alias("nm"),
        )
    )
    store_fps = store.select("fp").distinct().withColumn("in_store", F.lit(1))
    flags = per.join(store_fps, "fp", "left").select(
        (F.col("nm") == F.col("np")).cast("long").alias("bloom_pos"),
        F.coalesce("in_store", F.lit(0)).alias("is_dup"),
    )
    n_store = store.agg(F.count(F.lit(1)).cast("long").alias("n_store"))
    bits_set = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum("bloom_pos").cast("long").alias("n_bloom_pos"),
        F.sum("is_dup").cast("long").alias("n_true_dup"),
        F.sum(F.col("bloom_pos") * (1 - F.col("is_dup")))
        .cast("long")
        .alias("n_false_pos"),
    )
    return (
        agg.crossJoin(F.broadcast(n_store))
        .crossJoin(F.broadcast(bits_set))
        .select(
            "n_store",
            "n_batch",
            "bits_set",
            round6(F.col("bits_set") / float(BLOOM_BITS)).alias("fill_rate"),
            "n_bloom_pos",
            "n_true_dup",
            "n_false_pos",
            round6(
                F.col("n_false_pos")
                / F.nullif(F.col("n_batch") - F.col("n_true_dup"), F.lit(0))
            ).alias("fp_rate"),
        )
    )


QUERIES["dedup_bloom_prefilter"] = dedup_bloom_prefilter
ORACLES["dedup_bloom_prefilter"] = f"""
WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
store AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
batch AS (SELECT * FROM d WHERE doc_id % 10 = 0),
spos AS (SELECT DISTINCT
    ('0x' || substr(fp, 1 + 8 * j, 8))::BIGINT % {BLOOM_BITS} AS pos
  FROM store, range({BLOOM_K}) t(j)),
bpos AS (SELECT doc_id, fp,
    ('0x' || substr(fp, 1 + 8 * j, 8))::BIGINT % {BLOOM_BITS} AS pos
  FROM batch, range({BLOOM_K}) t(j)),
per AS (SELECT b.doc_id, b.fp,
    count(DISTINCT b.pos) AS np,
    count(DISTINCT s.pos) AS nm
  FROM bpos b LEFT JOIN spos s ON b.pos = s.pos
  GROUP BY 1, 2),
flags AS (SELECT
    CASE WHEN nm = np THEN 1 ELSE 0 END AS bloom_pos,
    CASE WHEN fp IN (SELECT fp FROM store) THEN 1 ELSE 0 END AS is_dup
  FROM per),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_batch,
    CAST(sum(bloom_pos) AS BIGINT) AS n_bloom_pos,
    CAST(sum(is_dup) AS BIGINT) AS n_true_dup,
    CAST(sum(bloom_pos * (1 - is_dup)) AS BIGINT) AS n_false_pos
  FROM flags)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM store) AS n_store,
  n_batch,
  (SELECT CAST(count(*) AS BIGINT) FROM spos) AS bits_set,
  floor((SELECT count(*) FROM spos) / {float(BLOOM_BITS)!r} * 1e6 + 0.5) / 1e6
    AS fill_rate,
  n_bloom_pos, n_true_dup, n_false_pos,
  floor(CAST(n_false_pos AS DOUBLE) / nullif(n_batch - n_true_dup, 0)
      * 1e6 + 0.5) / 1e6
    AS fp_rate
FROM g
"""


# ------------------------------------------------------------------
# Paragraph-level exact dedup (VERDICT r5 item 8) — the Lee-et-al
# complement at PARAGRAPH granularity, between doc-level exact dedup
# (whole-text fingerprint) and dedup_substring (arbitrary verbatim
# spans): boilerplate paragraphs recur verbatim inside otherwise
# unique documents, and removing them is the standard curation step
# (C4's "dedupe at the three-sentence level", Lee et al. §3).
PARA_TOKENS = 20


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with keep-first semantics.

    The synthetic corpus carries no newline structure, so a
    "paragraph" is the deterministic structural unit: non-overlapping
    windows of PARA_TOKENS normalized tokens (the same tokenizer as
    every other dedup family — drifting definitions would silently
    stop matching).  Pipeline:

    1. one explode: (doc_id, pid) per paragraph, fingerprint =
       md5(paragraph text) — the shuffle key is 16 bytes, never text;
    2. keep-first: row_number over (fp) ordered by (doc_id, pid) —
       a unique tie-break (rule 5), the global first occurrence
       survives, every later copy is flagged removed;
    3. per-doc readout: paragraph count, removed count, removed
       fraction (floor-rounded 1e-6, rule 3).

    Scale: O(total tokens) map-side until the window's one shuffle on
    the 16-byte fingerprint (high-cardinality, well distributed — no
    skew by construction), then one groupBy(doc_id) re-shuffle of
    tiny flag rows.  No candidate generation at all: exact equality
    needs no LSH.  At 100 TB this is the cheapest dedup family in the
    module and the per-fp fan-in is bounded by true duplicate
    multiplicity.

    Reference parity: keep-first semantics per SURVEY Q16/Q24
    (reference row-dedup contract); granularity extension is the
    north-star corpus-curation path."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens().alias("toks")).withColumn(
        "n", F.size("toks")
    )
    paras = base.withColumn(
        "pid",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(f"(n + {PARA_TOKENS} - 1) div {PARA_TOKENS} - 1"),
            )
        ),
    ).select(
        "doc_id",
        "pid",
        F.md5(
            F.concat_ws(
                " ",
                F.expr(f"slice(toks, pid * {PARA_TOKENS} + 1, {PARA_TOKENS})"),
            )
        ).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id", "pid")
    flagged = paras.withColumn(
        "removed", (F.row_number().over(w) > 1).cast("int")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum("removed").cast("long").alias("n_removed"),
        )
        .withColumn(
            "removed_frac",
            F.expr(
                "floor(n_removed / CAST(n_paras AS DOUBLE) * 1e6 + 0.5)"
                " / 1e6"
            ),
        )
    )


QUERIES["dedup_paragraph"] = dedup_paragraph
ORACLES["dedup_paragraph"] = f"""
WITH b AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents),
p AS (SELECT doc_id,
    unnest(range((len(toks) + {PARA_TOKENS} - 1) // {PARA_TOKENS})) AS pid,
    toks FROM b),
paras AS (SELECT doc_id, pid,
    md5(array_to_string(
      toks[pid * {PARA_TOKENS} + 1 : pid * {PARA_TOKENS} + {PARA_TOKENS}],
      ' ')) AS fp
  FROM p),
fl AS (SELECT doc_id,
    CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id, pid) > 1
         THEN 1 ELSE 0 END AS removed
  FROM paras)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
  CAST(sum(removed) AS BIGINT) AS n_removed,
  floor(sum(removed) / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
    AS removed_frac
FROM fl GROUP BY doc_id
"""


# ------------------------------------------------------------------
# r9: URL/domain-level dedup with per-domain keep-quotas (VERDICT r8
# item 7 — the CommonCrawl front-door shape)
# ------------------------------------------------------------------

URL_DOMAIN_QUOTA = 8  # keepers per domain after URL dedup


def dedup_url_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global URL-level dedup + per-domain keep-quota — the first gate
    a web-scale crawl passes: normalize each document to a URL key
    (domain = ``source``, path = content md5 — the content-derived
    stand-in for a real normalized path, rule 6), keep the best
    variant per URL (n_chars DESC, doc_id ASC — rule 5), then cap each
    domain at URL_DOMAIN_QUOTA keepers so no single domain floods the
    training mix.

    ONE-EXCHANGE plan (locked in tests/test_plans.py): both passes run
    on the SAME hashpartitioning(source).  The per-URL keep-first is a
    sorted-neighborhood lag() inside the source partition (url ASC,
    n_chars DESC, doc_id ASC — the first row of every url run is the
    keeper), and because filter() preserves the child's partitioning,
    the per-domain quota window (same partition key, different sort)
    reuses the exchange and only adds a sort.  At 100 TB: one shuffle
    on the domain key, two in-partition sorts, no join, no broadcast —
    skewed mega-domains are exactly the rows the quota discards, and
    a salt-by-url prefix would co-locate them if one domain outgrew a
    partition.  Output: one row per unique URL with its domain rank
    and keep flag."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5(F.col("text")).alias("url_md5"),
    )
    w_url = Window.partitionBy("source").orderBy(
        F.col("url_md5").asc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    first_of_url = (
        F.lag("url_md5").over(w_url).isNull()
        | (F.lag("url_md5").over(w_url) != F.col("url_md5"))
    )
    keepers = d.withColumn("is_url_keeper", first_of_url).filter(
        F.col("is_url_keeper")
    )
    w_dom = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return keepers.select(
        "doc_id",
        "source",
        "url_md5",
        F.row_number().over(w_dom).cast("long").alias("domain_rank"),
    ).select(
        "doc_id",
        "source",
        "url_md5",
        "domain_rank",
        (F.col("domain_rank") <= URL_DOMAIN_QUOTA).cast("long").alias("is_kept"),
    )


QUERIES["dedup_url_quota"] = dedup_url_quota
ORACLES["dedup_url_quota"] = f"""
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
    CAST(n_chars AS BIGINT) AS n_chars, md5(text) AS url_md5
  FROM documents),
per_url AS (SELECT *, row_number() OVER (PARTITION BY source, url_md5
    ORDER BY n_chars DESC, doc_id ASC) AS rn FROM base),
keep AS (SELECT doc_id, source, url_md5, n_chars FROM per_url WHERE rn = 1),
ranked AS (SELECT doc_id, source, url_md5,
    row_number() OVER (PARTITION BY source
      ORDER BY n_chars DESC, doc_id ASC) AS domain_rank
  FROM keep)
SELECT doc_id, source, url_md5, CAST(domain_rank AS BIGINT) AS domain_rank,
  CAST(CASE WHEN domain_rank <= {URL_DOMAIN_QUOTA} THEN 1 ELSE 0 END
    AS BIGINT) AS is_kept
FROM ranked
"""
