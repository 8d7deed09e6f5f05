"""Text-analysis operators over ``documents`` — the north-star
LLM-pipeline surface (BASELINE.json): token counting, quality
scoring, language-ID, document fingerprinting.

Everything is built from JVM-side expression primitives (split /
transform / filter / aggregate / regexp) — no Python in the hot path —
so the plans stay inside whole-stage codegen and scale as narrow maps:
zero shuffles for per-document scores.

Cross-engine note: every query here has a DuckDB oracle; scoring
formulas use only integer arithmetic + one final double division so
results are bit-stable across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators._parts import spread
from decision_tree_analytics_spark.operators._round import round6
from decision_tree_analytics_spark.operators.dedup import tokens
from decision_tree_analytics_spark.sources.tables import load_table

# Tiny per-language stopword profiles (public common-word lists).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
}

_TOKEN_REGEX = r"\w+|[^\w\s]"  # BPE-ish: words + standalone punctuation


def _stop_hits(toks: Column, words: list[str]) -> Column:
    """Count of tokens in the stopword list (bigint)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")


def _sql_stop_hits(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "CAST(len(list_filter(string_split(lower(trim(text)), ' '),"
        f" t -> t IN ({lst}))) AS BIGINT)"
    )


def ns_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex (BPE-ish) tokens."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_REGEX), 0))
        .cast("long")
        .alias("n_re_tokens"),
    )


def _quality_score_col(toks: Column) -> Column:
    """Composite quality score (shared by ns_text_quality and the
    curation pipeline)."""
    n_tokens = F.size(toks).cast("long")
    stop_ratio = _stop_hits(toks, STOPWORDS["en"]).cast("double") / n_tokens.cast(
        "double"
    )
    return (
        F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.5
    )


def _langid_col(toks: Column) -> Column:
    """Stopword-profile argmax with fixed preference order (shared by
    ns_text_langid and the curation pipeline)."""
    s = {lang: _stop_hits(toks, words) for lang, words in STOPWORDS.items()}
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )


def ns_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, stopword ratio, and
    a composite score — the standard cheap pre-filter for LLM corpora."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks).cast("long")
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    ).cast("long")
    stop_hits = _stop_hits(toks, STOPWORDS["en"])
    avg_tok = tok_len_sum.cast("double") / n_tokens.cast("double")
    stop_ratio = stop_hits.cast("double") / n_tokens.cast("double")
    score = _quality_score_col(toks)
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def ns_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-profile overlap with a fixed preference
    order (en > de > fr > es) on ties — deterministic argmax."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    s = {lang: _stop_hits(toks, words) for lang, words in STOPWORDS.items()}
    return d.select(
        "doc_id",
        _langid_col(toks).alias("pred_lang"),
        s["en"].alias("s_en"),
        s["de"].alias("s_de"),
        s["fr"].alias("s_fr"),
        s["es"].alias("s_es"),
    )


def ns_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-collision fingerprint (sorted distinct token set → md5) —
    the canonical normalize-then-hash dedup key.  At 100 TB the
    fingerprint becomes the shuffle key for exact-dedup so full text
    never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens())), " ")
    )
    return d.select("doc_id", fp.alias("fingerprint"))


LEVENSHTEIN_BLOCK = 100  # docs per pairing block (bounded window partitions)


def ns_text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between consecutive documents' first words within
    a blocking partition — string-similarity primitive (fuzzy matching
    / OCR-dedup building block).

    The pairing window is partitioned by a blocking key
    (``doc_id div 100``), never a global ordering: a partitionless
    window funnels the whole table through one task at any scale.
    Block count grows with the data, each block is bounded, and pairs
    never cross blocks — the shape a blocking stage (fingerprint
    prefix) produces at 100 TB."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_extract("text", r"^\s*(\w+)", 1).alias("w")
    )
    win = Window.partitionBy(F.expr(f"doc_id div {LEVENSHTEIN_BLOCK}")).orderBy(
        "doc_id"
    )
    return (
        d.withColumn("prev_w", F.lag("w").over(win))
        .filter(F.col("prev_w").isNotNull())
        .select(
            "doc_id",
            F.levenshtein("w", "prev_w").cast("long").alias("edit_dist"),
        )
    )


def ns_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship curation pipeline in one plan: quality gate →
    language gate → exact dedup keep-first, the standard LLM-corpus
    filter chain.

    All three stages read the same tokenization of one scan — no
    joins, no recomputation; the only shuffle is the dedup window on
    the md5 fingerprint (16-byte keys).  At 100 TB this is the
    pattern: score-and-gate as a narrow map over the corpus, then one
    fingerprint-keyed exchange for the keep-first."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    d = spread(d, "doc_id")
    toks = tokens()
    gated = d.select(
        "doc_id",
        _quality_score_col(toks).alias("quality_score"),
        _langid_col(toks).alias("pred_lang"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fingerprint"
        ),
    ).filter((F.col("quality_score") >= 0.5) & (F.col("pred_lang") == "en"))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality_score", "fingerprint")
    )


WINNOW_K = 8  # k-gram length (characters)
WINNOW_W = 4  # winnowing window (k-grams per window)


def ns_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling character k-gram hash
    + per-window minimum selection) — the MOSS-style local
    fingerprinting scheme: any shared substring of length ≥ k+w-1
    guarantees a shared fingerprint, so overlapping documents collide
    without comparing full texts.

    Hashes are content-derived (first 8 md5 hex digits of each k-gram
    → int64), hence engine-portable.  Shape at scale: one generator
    explode per character position (repartitioned first — CPU-bound),
    one window over (doc, position), distinct on 8-byte values.  The
    fingerprint set is the shuffle key for substring-level dedup; raw
    text never joins."""
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.trim(F.col("text"))).alias("t"))
        .filter(F.length("t") >= WINNOW_K)
    )
    d = spread(d, "doc_id")
    grams = d.select(
        "doc_id",
        "t",
        F.explode(F.expr(f"sequence(0, length(t) - {WINNOW_K})")).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.expr(f"substr(t, i + 1, {WINNOW_K})").alias("g"),
    ).select(
        "doc_id",
        "i",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long").alias("fp"),
    )
    win = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, WINNOW_W - 1)
    )
    return (
        grams.select("doc_id", F.min("fp").over(win).alias("fingerprint"))
        .distinct()
    )


def ns_text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (doc_id < 50 slice).

    tf = term count in doc; idf = ln((N+1)/(df+1)).  Two aggregations
    sharing the token explode + one broadcast-sized df join + one
    window — the corpus-statistics shape (vocabulary tables are tiny
    relative to the corpus, so the df join broadcasts at any scale).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = d.select("doc_id", F.explode(tokens()).alias("tok"))
    n_docs = 50  # fixed slice size keeps idf deterministic and portable
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = tf.join(F.broadcast(df_), "tok").select(
        "doc_id",
        "tok",
        (
            F.col("tf").cast("double")
            * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tfidf", "rnk")
    )


CHUNK_TOKENS = 20  # tokens per chunk
CHUNK_STRIDE = 15  # tokens between chunk starts (5-token overlap)


def ns_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunking — the LLM-pipeline
    preprocessing step that turns documents into training/context
    windows.  Chunk i covers tokens [i·stride, i·stride + size); the
    chunk count is pure integer arithmetic (`div`, identical in both
    engines) so the explode fan-out matches the oracle's lateral range
    exactly.

    Scale: map-only until the explode, which multiplies rows by
    ~n_tokens/stride but each output row carries only its own slice —
    no shuffle at all in the whole query; chunk rows stream straight
    to the consumer (tokenizer, embedder, writer)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens().alias("toks")).withColumn(
        "n", F.size("toks")
    )
    n_extra = F.expr(
        f"(greatest(n - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE}"
    )
    chunks = base.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), n_extra))
    ).withColumn(
        "ctoks",
        F.expr(f"slice(toks, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("ctoks").cast("long").alias("chunk_tokens"),
        F.concat_ws(" ", "ctoks").alias("chunk_text"),
    )


def ns_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score — the Gopher-style quality
    signal (fraction of duplicate 3-word shingles; boilerplate and
    generated spam score high, natural prose low).

    Pure per-row array arithmetic on the shingle array — zero
    shuffle, zero explode, pipelines with the parquet scan; the dedup
    module's one shared shingle definition keeps this signal aligned
    with the MinHash near-dup path."""
    from decision_tree_analytics_spark.operators.dedup import _word_shingles

    d = load_table(spark, sf_dir, "documents")
    # Bind tokens to a real column first — _word_shingles element_at
    # lookups would otherwise re-split the text per element.
    toked = d.select("doc_id", tokens().alias("toks"))
    sh = toked.select(
        "doc_id", _word_shingles(F.col("toks")).alias("sh")
    )
    n = F.size("sh").cast("long")
    nd = F.size(F.array_distinct("sh")).cast("long")
    dup = F.when(
        n > 0,
        round6(1 - nd.cast("double") / n.cast("double")),
    )
    return sh.select(
        "doc_id",
        n.alias("n_shingles"),
        nd.alias("n_distinct"),
        dup.alias("dup_frac"),
    )


def ns_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 bigrams by occurrence (vocabulary /
    collocation mining).  One explode, one count aggregation with
    map-side partials, TakeOrderedAndProject for the top-k — the
    shuffle moves per-partition partial counts keyed by bigram, never
    token streams."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda p, q: F.concat_ws(" ", p, q),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
        .limit(20)
    )


PACK_CAPACITY = 512


def ns_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM pretraining sequence packing: concatenate each source's
    documents (doc_id order) into fixed-capacity token sequences and
    assign every document its (sequence index, offset) — the
    concat-and-cut packing used to build training batches (documents
    may straddle a sequence boundary; the cut is at the token budget,
    exactly like packed pretraining with EOS separators).

    One window shuffle keyed by ``source``: the running token total
    within a source gives each doc's start position, and the bin
    arithmetic is pure projection.  Sources partition the corpus, so
    parallelism is |sources| for the window and full for everything
    else — at 100 TB you'd sub-shard giant sources by a doc_id prefix
    exactly like the salted grouped top-k does."""
    return _packed_corpus(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"(end_tok - n_tokens) div {PACK_CAPACITY}").alias("seq_index"),
        ((F.col("end_tok") - F.col("n_tokens")) % PACK_CAPACITY).alias("offset"),
    )


def _packed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concat-and-cut running total behind ns_seq_pack /
    ns_seq_spans: (doc_id, source, n_tokens, end_tok)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return d.withColumn("end_tok", F.sum("n_tokens").over(w))


def _pack_spans(x: DataFrame) -> DataFrame:
    """Document-span manifest over a packed frame (doc_id, source,
    n_tokens, end_tok): one exploded row per (sequence, document
    fragment) with the fragment's 0-based start and length WITHIN the
    sequence — exactly the per-sequence span list a training loader
    needs to build intra-sequence attention masks (tokens must not
    attend across the document boundaries inside a packed sequence).
    A document straddling sequence cuts contributes one span per
    sequence it touches.

    Spans are emitted as exploded scalar rows, not arrays — array
    cells are unhashable in the driver canonicalizer (r02 lesson).
    Scale: the straddle explode is a per-row sequence() over the
    handful of sequences a doc touches (≥1, usually 1), and span_ord
    is a window over (source, seq_index) — bounded partitions of ≤
    PACK_CAPACITY spans."""
    from pyspark.sql import Window

    cap = PACK_CAPACITY
    g = x.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.col("end_tok") - F.col("n_tokens")).alias("g"),
    )
    e = g.select(
        "doc_id",
        "source",
        "n_tokens",
        "g",
        F.explode(
            F.sequence(
                F.expr(f"g div {cap}"),
                F.expr(f"(g + n_tokens - 1) div {cap}"),
            )
        ).alias("seq_index"),
    )
    cut = F.col("seq_index") * cap
    start_in_seq = F.greatest(F.col("g"), cut) - cut
    end_in_seq = F.least(F.col("g") + F.col("n_tokens"), cut + cap) - cut
    spans = e.select(
        "source",
        F.col("seq_index").cast("long").alias("seq_index"),
        F.col("doc_id").cast("long").alias("doc_id"),
        start_in_seq.cast("long").alias("span_start"),
        (end_in_seq - start_in_seq).cast("long").alias("span_len"),
    )
    w = Window.partitionBy("source", "seq_index").orderBy("span_start")
    return spans.select(
        "source",
        "seq_index",
        F.row_number().over(w).cast("long").alias("span_ord"),
        "doc_id",
        "span_start",
        "span_len",
    )


def ns_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing audit for the ns_seq_pack layout — per source: doc and
    token inventory, sequence count, fill rate (tokens over sequence
    capacity actually allocated), tail waste (unused slots in the
    final partial sequence), and how many documents straddle a
    sequence cut (each straddler costs the loader a span split —
    ns_seq_spans carries the splits; this reports the rate).

    One |sources|-row aggregate over the same running-total window the
    packer uses — the audit can never disagree with the manifest it
    audits.  ANSI-safe: every source in the output has ≥ 1 doc, so
    n_seqs ≥ 1."""
    cap = PACK_CAPACITY
    x = _packed_corpus(spark, sf_dir)
    straddles = F.expr(
        f"(end_tok - n_tokens) div {cap} != (end_tok - 1) div {cap}"
    ).cast("long")
    # per-source total tokens == max(end_tok): the running sum's last
    # value — one aggregate serves inventory and waste alike.
    per_src = x.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("end_tok").cast("long").alias("n_tokens"),
        F.sum(straddles).cast("long").alias("n_straddlers"),
    )
    n_seqs = F.expr(f"(n_tokens + {cap} - 1) div {cap}")
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        n_seqs.cast("long").alias("n_seqs"),
        (n_seqs * cap - F.col("n_tokens")).cast("long").alias("tail_waste"),
        round6(F.col("n_tokens") / (n_seqs * cap)).alias("fill_rate"),
        "n_straddlers",
    )


def ns_seq_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attention-mask span manifest for the ns_seq_pack packing: per
    (source, seq_index), the ordered list of document fragments
    (span_ord, doc_id, span_start, span_len) that make up the packed
    sequence — the loader-side companion to the per-document
    (seq_index, offset) view.  Within every sequence the spans tile
    it exactly: span k+1 starts where span k ends."""
    return _pack_spans(_packed_corpus(spark, sf_dir))


def ns_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word shingle with a held-out benchmark document — the overlap
    check every LLM data pipeline runs before training (the "13-gram
    decontamination" of GPT-3/PaLM reports, at this corpus's 3-word
    shingle grain).

    Splits reuse ml_split_assign's content-hash buckets (train =
    buckets 0-7, benchmark = bucket 9), so the check is deterministic
    and rerun-stable.  Scale shape: one shingle explode per side,
    16-byte md5 join keys (never text), benchmark side ~10% of the
    corpus; output is per-train-doc (distinct shared shingles,
    distinct benchmark docs touched) — bounded by the train count."""
    from decision_tree_analytics_spark.operators.dedup import _word_shingles

    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
    )
    toked = d.select("doc_id", bucket.alias("bucket"), tokens().alias("toks"))
    sh = toked.select(
        "doc_id",
        "bucket",
        F.explode(F.array_distinct(_word_shingles(F.col("toks")))).alias(
            "shingle"
        ),
    ).select("doc_id", "bucket", F.md5("shingle").alias("sh"))
    train = sh.filter(F.col("bucket") < 8).select("doc_id", "sh")
    bench = sh.filter(F.col("bucket") == 9).select(
        F.col("sh"), F.col("doc_id").alias("b_doc")
    )
    return (
        train.join(bench, "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").cast("long").alias("n_shared_shingles"),
            F.countDistinct("b_doc").cast("long").alias("n_benchmark_docs"),
        )
    )


def ns_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced resampling plan + audit: compute the per-
    language keep rate that equalizes the mix to the rarest language,
    then the deterministic hash-sampled keep counts.

    The rate table is |langs| rows (broadcast); membership is a pure
    projection on md5(doc_id) — stable across reruns and partitionings
    (a rand() sample is neither), so the same plan replayed on 100 TB
    yields the same corpus.  Integer ppm arithmetic keeps both engines
    exact (no float rate)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    m = c.agg(F.min("n").alias("mn"))
    r = c.crossJoin(F.broadcast(m)).select(
        "lang", "n", F.expr("(mn * 1000000) div n").alias("rate_ppm")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("rebal-"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long") % 1_000_000
    kept = (
        d.join(F.broadcast(r), "lang")
        .filter(h < F.col("rate_ppm"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
    )
    return r.join(kept, "lang", "left").select(
        "lang",
        F.col("n").cast("long").alias("n_total"),
        F.col("rate_ppm").cast("long").alias("rate_ppm"),
        F.coalesce("kept", F.lit(0)).cast("long").alias("n_kept"),
    )


PPLX_VOCAB_TOP_N = 1024  # CCNet-style model cap: bounded regardless of corpus


def ns_perplexity_proxy(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Unigram language-model quality filter: score every document by
    its per-token cross-entropy against a CAPPED corpus unigram model
    (≈ log-perplexity), and return the k most "surprising" documents —
    the cheap statistical stand-in for the perplexity-based filtering
    of LLM corpus pipelines (CCNet-style), where a doc far from the
    corpus distribution is boilerplate, noise or another language.

    The model is the top-``PPLX_VOCAB_TOP_N`` tokens by corpus count
    (count DESC, token ASC tie-break); everything else is OOV with a
    floor probability of 1/N_corpus_tokens.  The cap is what makes
    this scale: a raw web corpus's vocabulary grows with the corpus
    (Heaps' law — see ns_vocab_growth), so broadcasting the FULL
    unigram table would eventually exceed any broadcast limit, while
    top-N+floor is a fixed-size model and the better-defined metric.

    Two explode-aggregates: corpus token counts → TakeOrdered top-N
    (bounded rows, legitimately broadcast back), then per-doc
    Σ −log₂ p(tok) / n_tokens via a LEFT join (miss ⇒ OOV floor).
    Top-k is TakeOrderedAndProject with doc_id tie-break."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(tokens()).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = vocab.agg(F.sum("n").cast("double").alias("nt"))
    model = vocab.orderBy(F.col("n").desc(), F.col("tok")).limit(
        PPLX_VOCAB_TOP_N
    )
    scored = (
        toks.join(F.broadcast(model), "tok", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (
                F.sum(
                    -F.log(
                        2.0,
                        F.coalesce(F.col("n").cast("double"), F.lit(1.0))
                        / F.col("nt"),
                    )
                )
                / F.count(F.lit(1))
            ).alias("xent"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            round6(F.col("xent")).alias("bits_per_token"),
        )
        .orderBy(F.col("bits_per_token").desc(), F.col("doc_id"))
        .limit(k)
    )


def ns_train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone corpus-curation pipeline in ONE declarative plan:
    exact-dedup keepers ∩ near-dup cluster canonicals ∩ the
    decontaminated train split, packed into fixed-capacity training
    sequences — i.e. the final manifest a pretraining run reads.

    Composition of four independently-oracled stages (each fragment is
    hash-verified on its own): dedup_exact_fingerprint keep-first,
    dedup_canonical keepers, ns_decontaminate's overlap flags, and
    ns_seq_pack's concat-and-cut assignment over the surviving docs.
    Catalyst fuses the whole thing — the doc table is scanned once per
    branch, every join key is a doc_id or a 16-byte hash, and the
    final pack window partitions by source.

    The near-dup canon stage consumes PERSISTED component labels
    (dedup_canonical_snapshot → component_labels_snapshot): at scale
    the minhash→LSH→connected-components labeling is derived state
    computed once per corpus generation and shared by every consumer,
    not recomputed inside each query plan."""
    return _manifest_packed(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"(end_tok - n_tokens) div {PACK_CAPACITY}").alias("seq_index"),
        ((F.col("end_tok") - F.col("n_tokens")) % PACK_CAPACITY).alias("offset"),
    )


def _manifest_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train-manifest survivor set with the running pack total —
    shared by ns_train_manifest (per-doc view) and ns_manifest_spans
    (per-sequence span view)."""
    from pyspark.sql import Window

    from decision_tree_analytics_spark.operators.dedup import (
        dedup_canonical_snapshot,
        fingerprint_col,
    )

    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
    )
    keep_exact = (
        d.select(fingerprint_col().alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    canon = (
        dedup_canonical_snapshot(spark, sf_dir)
        .filter(F.col("is_kept") == 1)
        .select("doc_id")
    )
    contaminated = ns_decontaminate(spark, sf_dir).select("doc_id")
    survivors = (
        d.filter(bucket < 8)
        .join(keep_exact, "doc_id", "semi")
        .join(canon, "doc_id", "semi")
        .join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return survivors.withColumn("end_tok", F.sum("n_tokens").over(w))


def ns_manifest_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attention-mask span manifest for the CAPSTONE train
    manifest: the same curated survivor packing as ns_train_manifest,
    re-read as per-sequence document spans — what the training loader
    actually consumes (VERDICT r3 item 7: packed sequences carried
    (seq_index, offset) but not the span list intra-sequence masking
    needs)."""
    return _pack_spans(_manifest_packed(spark, sf_dir))


def ns_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL readout — how many documents survive each
    gate of the train-manifest chain (raw → train split → exact-dedup
    keepers → near-dup canonicals → decontamination) and the token
    mass that reaches packing.  This one-row attrition table is the
    first thing a pipeline owner checks after every corpus rebuild:
    a gate suddenly eating 40% of the corpus is a data bug long
    before any model metric moves.

    One corpus scan carries per-doc gate flags (three left joins
    against the keeper/flag tables — each keyed on doc_id, the same
    derived state the manifest itself consumes, including the
    PERSISTED component labels); the funnel is then a single
    mergeable aggregate of flag products."""
    from decision_tree_analytics_spark.operators.dedup import (
        dedup_canonical_snapshot,
        fingerprint_col,
    )

    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
    )
    ke = (
        d.select(fingerprint_col().alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("ke"))
    )
    kc = (
        dedup_canonical_snapshot(spark, sf_dir)
        .filter(F.col("is_kept") == 1)
        .select("doc_id", F.lit(1).alias("kc"))
    )
    ct = ns_decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("ct")
    )
    flags = (
        d.select(
            "doc_id",
            (bucket < 8).cast("long").alias("in_train"),
            F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
        )
        .join(ke, "doc_id", "left")
        .join(kc, "doc_id", "left")
        .join(ct, "doc_id", "left")
        .select(
            "in_train",
            "nt",
            F.coalesce("ke", F.lit(0)).alias("ke"),
            F.coalesce("kc", F.lit(0)).alias("kc"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    surv = F.col("in_train") * F.col("ke") * F.col("kc") * (1 - F.col("ct"))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum("in_train").cast("long").alias("n_train"),
        F.sum(F.col("in_train") * F.col("ke")).cast("long").alias("n_after_exact"),
        F.sum(F.col("in_train") * F.col("ke") * F.col("kc"))
        .cast("long")
        .alias("n_after_canon"),
        F.sum(surv).cast("long").alias("n_final"),
        F.sum(surv * F.col("nt")).cast("long").alias("tokens_final"),
    )


def ns_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planner: per-source document/token inventory plus
    temperature-smoothed sampling weights — the domain-mixture table a
    pretraining run reads (raw token share ∝ corpus, α=0.5 weight
    upsamples small high-value domains, the Pile/DoReMi-style static
    mix knob).

    One narrow projection computes per-doc token counts (size(split),
    pure codegen), one aggregate reduces the corpus to |sources| rows,
    and the share/weight arithmetic runs in windows over that bounded
    grid — corpus-size-independent after the first shuffle.  The total
    token count per source is the SAME number ns_seq_pack packs
    against, so the mix plan and the packing manifest stay consistent."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens()).cast("long").alias("nt"),
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return g.select(
        "source",
        "n_docs",
        "n_tokens",
        round6(F.col("n_tokens") / F.sum("n_tokens").over(w)).alias("token_share"),
        round6(
            F.sqrt(F.col("n_tokens").cast("double"))
            / F.sum(F.sqrt(F.col("n_tokens").cast("double"))).over(w)
        ).alias("mix_weight"),
    )


GOPHER_STOPS = ("the", "a", "of", "and", "to", "in")


def ns_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (Rae et al. '21 §A1.1 adapted to the
    synthetic corpus): hard thresholds with a reason bitmask, the
    keep/drop decision layer that sits in front of every LLM corpus
    (ns_text_quality scores; this one *decides* and says why).

    Rules (bit set = rule passed): 1 word count ∈ [50, 100000];
    2 mean word length ∈ [3, 10]; 4 max word length ≤ 20;
    8 ≥ 2 distinct stopwords; 16 ≥ 80% purely-alphabetic words.

    Scale: map-only — every metric comes from the row's own split
    array (HOF filter/transform/aggregate), so the plan is one scan
    with zero shuffles and the filter composes with any downstream
    pipeline for free.  ANSI: divisions guarded by nullif(wc, 0)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokens(), lambda w: w != "")
    lens = F.transform(toks, lambda w: F.length(w))
    wc = F.size(toks).cast("long")
    wc_nz = F.nullif(wc, F.lit(0))
    mean_len = round6(
        F.aggregate(lens, F.lit(0), lambda acc, x: acc + x).cast("double")
        / wc_nz
    )
    max_len = F.array_max(lens).cast("long")
    stops = F.array(*[F.lit(w) for w in GOPHER_STOPS])
    stop_distinct = F.size(F.array_intersect(toks, stops)).cast("long")
    alpha_frac = round6(
        F.size(F.filter(toks, lambda w: w.rlike("^[a-z]+$"))).cast("double")
        / wc_nz
    )
    bit = lambda cond, v: F.when(cond, v).otherwise(0)  # noqa: E731
    flags = (
        bit((wc >= 50) & (wc <= 100000), 1)
        + bit((mean_len >= 3.0) & (mean_len <= 10.0), 2)
        + bit(max_len <= 20, 4)
        + bit(stop_distinct >= 2, 8)
        + bit(alpha_frac >= 0.8, 16)
    ).cast("long")
    return d.select(
        "doc_id",
        wc.alias("word_count"),
        mean_len.alias("mean_word_len"),
        max_len.alias("max_word_len"),
        stop_distinct.alias("stop_distinct"),
        alpha_frac.alias("alpha_frac"),
        flags.alias("flags"),
        (flags == 31).alias("passes"),
    )


N_LOADER_SHARDS = 16


def ns_shard_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: every document
    gets a content-derived shuffle key (md5 of its id), lands in one of
    N_LOADER_SHARDS loader shards by key prefix, and is ordered within
    its shard by the key — the write manifest a dataloader replays
    identically on every run/engine (no seeded RNG to disagree about).

    The readout audits the interleave per shard: row count, distinct
    sources, and the fraction of ADJACENT positions whose source
    differs (a well-shuffled shard ≈ 1 − Σ share²; a source-sorted
    shard ≈ 0) — the cheap statistic that catches a broken shuffle
    before a training run does.  Scale: one shuffle on the shard key;
    the within-shard sort is exactly what the loader contract
    requires, and shard count scales with the cluster (16 here).
    ANSI: adjacent-pair fraction guards nullif(n-1, 0)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % N_LOADER_SHARDS
    )
    s = d.select("doc_id", "source", key.alias("k"), shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    seq = s.withColumn(
        "changed",
        F.when(
            F.lag("source").over(w).isNotNull()
            & (F.lag("source").over(w) != F.col("source")),
            1,
        ).otherwise(0),
    )
    return seq.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        round6(
            F.sum("changed")
            / F.nullif(F.count(F.lit(1)) - 1, F.lit(0)).cast("double")
        ).alias("adjacent_mix"),
    )


_SHARD_SQL = f"""
WITH s AS (SELECT doc_id, source, md5(doc_id::VARCHAR) AS k,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
      % {N_LOADER_SHARDS} AS shard
  FROM documents),
seq AS (SELECT shard, source,
    CASE WHEN lag(source) OVER (PARTITION BY shard ORDER BY k, doc_id)
      IS NOT NULL AND lag(source) OVER (PARTITION BY shard ORDER BY k,
      doc_id) <> source THEN 1 ELSE 0 END AS changed
  FROM s)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
  floor(sum(changed) / CAST(nullif(count(*) - 1, 0) AS DOUBLE)
    * 1e6 + 0.5) / 1e6 AS adjacent_mix
FROM seq GROUP BY shard
"""


def ns_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one row: corpus size (docs / tokens /
    chars), composition (sources, languages), exact-duplicate rate
    (1 − distinct fingerprints ÷ docs), and mean quality score — the
    summary block every released training corpus publishes, fused
    into a single plan.

    One scan computes every per-doc metric map-side (tokens, chars,
    quality, fingerprint via the shared normalize-then-hash key);
    the only shuffles are the three distinct-count reductions
    (fingerprint / source / lang), each over slim key columns.  All
    counts BIGINT; rates rounded 1e-6."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    per_doc = d.select(
        F.size(toks).cast("long").alias("n_toks"),
        F.length("text").cast("long").alias("n_chars"),
        _quality_score_col(toks).alias("q"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fp"
        ),
        "source",
        "lang",
    )
    n_docs = F.count(F.lit(1)).cast("long")
    return per_doc.agg(
        n_docs.alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        round6(
            1.0 - F.countDistinct("fp") / n_docs.cast("double")
        ).alias("dup_rate"),
        round6(F.avg("q")).alias("mean_quality"),
    )


_TOKS_LIT = "string_split(lower(trim(text)), ' ')"

_CARD_SQL = f"""
WITH per_doc AS (SELECT
    CAST(len({_TOKS_LIT}) AS BIGINT) AS n_toks,
    CAST(length(text) AS BIGINT) AS n_chars,
    least(CAST(len({_TOKS_LIT}) AS DOUBLE) / 50.0, 1.0) * 0.5
      + CAST({{stop}} AS DOUBLE) / len({_TOKS_LIT}) * 0.5 AS q,
    md5(array_to_string(list_sort(list_distinct({_TOKS_LIT})), ' ')) AS fp,
    source, lang
  FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
  CAST(sum(n_chars) AS BIGINT) AS n_chars,
  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  floor((1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5)
    / 1e6 AS dup_rate,
  floor(avg(q) * 1e6 + 0.5) / 1e6 AS mean_quality
FROM per_doc
""".format(stop=_sql_stop_hits(STOPWORDS["en"]))


# PII scrub patterns — written with character classes only ([0-9],
# [.], [+]) so the same literal parses identically in Java regex and
# RE2 (CLAUDE.md rule 7; no \d / \. escapes).
_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
_PII_PHONE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"
_PII_ID = "[0-9]{5,}"


def ns_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training corpus runs
    before release: replace emails, phone numbers, and long numeric
    identifiers with typed placeholder tags, reporting per-doc
    redaction counts and the scrubbed-content fingerprint.

    The synthetic corpus carries no contact strings, so the query
    derives a deterministic contact-laden field per doc (text +
    ``user{id}@…``, ``+1-555-…``, a 6-digit ref) and scrubs THAT —
    the fixture-derivation pattern cdc_merge_upsert uses — which
    keeps every rule's match count nonzero and oracle-checked at all
    SFs.

    Scale: pure map — three regexp_replace passes and three
    regexp_extract_all counts per row, zero shuffles, no Python; at
    100 TB this runs at scan speed and composes into the curation
    chain (ns_corpus_curate) as another narrow gate.  Replacement
    order matters and is pinned: emails first (they contain digits),
    then phones, then bare digit runs.  Each rule's count is taken on
    the string AS IT STANDS at that stage of the pipeline (ids are
    counted after the email/phone scrubs), so n_emails/n_phones/n_ids
    reconcile exactly with what was redacted — a digit run inside an
    email local part is consumed by <EMAIL>, not double-counted as an
    id (ADVICE r03)."""
    d = load_table(spark, sf_dir, "documents")
    d = spread(d, "doc_id")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        F.lpad(((F.col("doc_id") * 7919) % 100000).cast("string"), 6, "0"),
    )
    after_email = F.regexp_replace(contact, _PII_EMAIL, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, _PII_PHONE, "<PHONE>")
    scrubbed = F.regexp_replace(after_phone, _PII_ID, "<ID>")
    n = lambda src, pat: F.size(  # noqa: E731
        F.regexp_extract_all(src, F.lit(pat), 0)
    ).cast("long")
    return d.select(
        "doc_id",
        n(contact, _PII_EMAIL).alias("n_emails"),
        n(after_email, _PII_PHONE).alias("n_phones"),
        n(after_phone, _PII_ID).alias("n_ids"),
        (F.length(contact) - F.length(scrubbed)).cast("long").alias("chars_removed"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


_PII_SQL = f"""
WITH c AS (SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@mail.example.com or +1-555-'
      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      || ' ref ' || lpad(CAST((doc_id * 7919) % 100000 AS VARCHAR), 6, '0')
      AS contact
  FROM documents),
s AS (SELECT doc_id, contact,
    regexp_replace(contact, '{_PII_EMAIL}', '<EMAIL>', 'g') AS after_email
  FROM c),
s2 AS (SELECT doc_id, contact, after_email,
    regexp_replace(after_email, '{_PII_PHONE}', '<PHONE>', 'g') AS after_phone
  FROM s),
s3 AS (SELECT doc_id, contact, after_email, after_phone,
    regexp_replace(after_phone, '{_PII_ID}', '<ID>', 'g') AS scrubbed
  FROM s2)
SELECT doc_id,
  CAST(len(regexp_extract_all(contact, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(after_email, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(after_phone, '{_PII_ID}')) AS BIGINT) AS n_ids,
  CAST(length(contact) - length(scrubbed) AS BIGINT) AS chars_removed,
  md5(scrubbed) AS scrubbed_md5
FROM s3
"""


QUERIES = {
    "ns_pii_scrub": ns_pii_scrub,
    "ns_dataset_card": ns_dataset_card,
    "ns_shard_interleave": ns_shard_interleave,
    "ns_gopher_filter": ns_gopher_filter,
    "ns_domain_mix": ns_domain_mix,
    "ns_seq_pack": ns_seq_pack,
    "ns_seq_spans": ns_seq_spans,
    "ns_manifest_spans": ns_manifest_spans,
    "ns_pack_efficiency": ns_pack_efficiency,
    "ns_curation_report": ns_curation_report,
    "ns_decontaminate": ns_decontaminate,
    "ns_lang_rebalance": ns_lang_rebalance,
    "ns_perplexity_proxy": ns_perplexity_proxy,
    "ns_train_manifest": ns_train_manifest,
    "ns_text_chunk": ns_text_chunk,
    "ns_text_bigrams": ns_text_bigrams,
    "ns_text_repetition": ns_text_repetition,
    "ns_text_tokens": ns_text_tokens,
    "ns_text_quality": ns_text_quality,
    "ns_text_langid": ns_text_langid,
    "ns_text_fingerprint": ns_text_fingerprint,
    "ns_text_levenshtein": ns_text_levenshtein,
    "ns_text_winnow": ns_text_winnow,
    "ns_text_tfidf_top": ns_text_tfidf_top,
    "ns_corpus_curate": ns_corpus_curate,
}

_SQL_TOKS = "string_split(lower(trim(text)), ' ')"

def _sql_decontaminate() -> str:
    from decision_tree_analytics_spark.operators.dedup import _SQL_SHINGLES

    return (
        "WITH t AS (SELECT doc_id,"
        "   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10"
        "     AS bucket,"
        "   text FROM documents),"
        " sh AS (SELECT doc_id, bucket, md5(shingle) AS sh FROM ("
        f"   SELECT doc_id, bucket, unnest(list_distinct({_SQL_SHINGLES}))"
        "     AS shingle FROM t)),"
        " train AS (SELECT doc_id, sh FROM sh WHERE bucket < 8),"
        " bench AS (SELECT sh, doc_id AS b_doc FROM sh WHERE bucket = 9)"
        " SELECT tr.doc_id,"
        " CAST(count(DISTINCT tr.sh) AS BIGINT) AS n_shared_shingles,"
        " CAST(count(DISTINCT b.b_doc) AS BIGINT) AS n_benchmark_docs"
        " FROM train tr JOIN bench b USING (sh) GROUP BY 1"
    )


def _sql_spans_tail() -> str:
    """Span-explode tail over an ``x`` CTE (doc_id, source, n_tokens,
    end_tok) — shared by the ns_seq_spans and ns_manifest_spans
    oracles.  range() excludes its stop, so +1 includes the last
    sequence a straddling document touches."""
    cap = PACK_CAPACITY
    return (
        # sum() over a window is HUGEINT in DuckDB — pin g back to
        # BIGINT so range()/arithmetic below bind.
        ", gg AS (SELECT doc_id, source, n_tokens,"
        "   CAST(end_tok - n_tokens AS BIGINT) AS g FROM x),"
        " ee AS (SELECT doc_id, source, n_tokens, g,"
        f"   unnest(range(g // {cap}, (g + n_tokens - 1) // {cap} + 1))"
        "     AS seq_index FROM gg),"
        " sp AS (SELECT source, seq_index, doc_id,"
        f"   greatest(g, seq_index * {cap}) - seq_index * {cap} AS span_start,"
        f"   least(g + n_tokens, seq_index * {cap} + {cap})"
        f"     - greatest(g, seq_index * {cap}) AS span_len"
        "   FROM ee)"
        " SELECT source, CAST(seq_index AS BIGINT) AS seq_index,"
        " CAST(row_number() OVER (PARTITION BY source, seq_index"
        "   ORDER BY span_start) AS BIGINT) AS span_ord,"
        " CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(span_start AS BIGINT) AS span_start,"
        " CAST(span_len AS BIGINT) AS span_len"
        " FROM sp"
    )


def _sql_manifest_x() -> str:
    """The train-manifest survivor CTE chain through the running-pack
    window ``x`` — shared by the ns_train_manifest and
    ns_manifest_spans oracles."""
    from decision_tree_analytics_spark.operators.dedup import (
        _SQL_COMP_CTES,
        _SQL_SHINGLES,
    )

    return (
        "WITH RECURSIVE " + _SQL_COMP_CTES + ","
        " labeled AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id,"
        "   CAST(coalesce(c.cid, d.doc_id) AS BIGINT) AS component_id,"
        "   d.n_chars FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),"
        " ranked AS (SELECT doc_id, row_number() OVER ("
        "   PARTITION BY component_id ORDER BY n_chars DESC, doc_id ASC) AS rn"
        "   FROM labeled),"
        " canonk AS (SELECT doc_id FROM ranked WHERE rn = 1),"
        " fp AS (SELECT md5(lower(trim(text))) AS f, doc_id FROM documents),"
        " keepx AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),"
        " bt AS (SELECT doc_id, source, text,"
        "   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10"
        "     AS bucket FROM documents),"
        " shx AS (SELECT doc_id, bucket, md5(shingle) AS sh FROM ("
        f"   SELECT doc_id, bucket, unnest(list_distinct({_SQL_SHINGLES}))"
        "     AS shingle FROM bt)),"
        " contaminated AS (SELECT DISTINCT tr.doc_id FROM"
        "   (SELECT doc_id, sh FROM shx WHERE bucket < 8) tr"
        "   JOIN (SELECT sh FROM shx WHERE bucket = 9) b USING (sh)),"
        " survivors AS (SELECT bt.doc_id, bt.source,"
        "   CAST(len(string_split(bt.text, ' ')) AS BIGINT) AS n_tokens"
        "   FROM bt WHERE bucket < 8"
        "   AND doc_id IN (SELECT doc_id FROM keepx)"
        "   AND doc_id IN (SELECT doc_id FROM canonk)"
        "   AND doc_id NOT IN (SELECT doc_id FROM contaminated)),"
        " x AS (SELECT doc_id, source, n_tokens,"
        "   sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)"
        "     AS end_tok FROM survivors)"
    )


def _sql_train_manifest() -> str:
    return (
        _sql_manifest_x()
        + " SELECT doc_id, source, n_tokens,"
        + f" CAST((end_tok - n_tokens) // {PACK_CAPACITY} AS BIGINT) AS seq_index,"
        + f" CAST((end_tok - n_tokens) % {PACK_CAPACITY} AS BIGINT) AS offset"
        + " FROM x"
    )


_GOPHER_SQL = (
    "WITH t AS (SELECT doc_id,"
    "   list_filter(string_split(lower(trim(text)), ' '), w -> w <> '')"
    "     AS toks FROM documents),"
    " m AS (SELECT doc_id,"
    "   CAST(len(toks) AS BIGINT) AS word_count,"
    "   floor(CAST(list_sum(list_transform(toks, w -> length(w)))"
    "       AS DOUBLE) / nullif(len(toks), 0) * 1e6 + 0.5) / 1e6"
    "     AS mean_word_len,"
    "   CAST(list_aggregate(list_transform(toks, w -> length(w)), 'max')"
    "       AS BIGINT) AS max_word_len,"
    "   CAST(len(list_intersect(toks,"
    f"       [{', '.join(repr(w) for w in GOPHER_STOPS)}])) AS BIGINT)"
    "     AS stop_distinct,"
    "   floor(CAST(len(list_filter(toks,"
    "       w -> regexp_matches(w, '^[a-z]+$'))) AS DOUBLE)"
    "       / nullif(len(toks), 0) * 1e6 + 0.5) / 1e6 AS alpha_frac"
    "   FROM t),"
    " f AS (SELECT *,"
    "   CAST((CASE WHEN word_count BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)"
    "   + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0"
    "       THEN 2 ELSE 0 END)"
    "   + (CASE WHEN max_word_len <= 20 THEN 4 ELSE 0 END)"
    "   + (CASE WHEN stop_distinct >= 2 THEN 8 ELSE 0 END)"
    "   + (CASE WHEN alpha_frac >= 0.8 THEN 16 ELSE 0 END) AS BIGINT)"
    "     AS flags FROM m)"
    " SELECT doc_id, word_count, mean_word_len, max_word_len,"
    " stop_distinct, alpha_frac, flags, flags = 31 AS passes FROM f"
)

ORACLES = {
    "ns_pii_scrub": _PII_SQL,
    "ns_dataset_card": _CARD_SQL,
    "ns_shard_interleave": _SHARD_SQL,
    "ns_gopher_filter": _GOPHER_SQL,
    "ns_domain_mix": (
        "WITH d AS (SELECT source,"
        "   CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS nt"
        "   FROM documents),"
        " g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
        "   CAST(sum(nt) AS BIGINT) AS n_tokens FROM d GROUP BY 1)"
        " SELECT source, n_docs, n_tokens,"
        " floor(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()"
        "   * 1e6 + 0.5) / 1e6 AS token_share,"
        " floor(sqrt(CAST(n_tokens AS DOUBLE))"
        "   / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER ()"
        "   * 1e6 + 0.5) / 1e6 AS mix_weight"
        " FROM g"
    ),
    "ns_decontaminate": _sql_decontaminate(),
    "ns_train_manifest": _sql_train_manifest(),
    "ns_perplexity_proxy": (
        "WITH toks AS (SELECT doc_id,"
        "   unnest(string_split(lower(trim(text)), ' ')) AS tok"
        "   FROM documents),"
        " vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),"
        " tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM vocab),"
        " model AS (SELECT tok, n FROM vocab"
        f"   ORDER BY n DESC, tok LIMIT {PPLX_VOCAB_TOP_N}),"
        " scored AS (SELECT t.doc_id,"
        "   CAST(count(*) AS BIGINT) AS n_tokens,"
        "   sum(-ln(CAST(coalesce(m.n, 1) AS DOUBLE)"
        "       / (SELECT nt FROM tot)) / ln(2)) / count(*) AS xent"
        "   FROM toks t LEFT JOIN model m USING (tok) GROUP BY 1)"
        " SELECT doc_id, n_tokens,"
        " floor(xent * 1e6 + 0.5) / 1e6 AS bits_per_token"
        " FROM scored ORDER BY bits_per_token DESC, doc_id LIMIT 50"
    ),
    "ns_lang_rebalance": (
        "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),"
        " m AS (SELECT min(n) AS mn FROM c),"
        " r AS (SELECT lang, n, (mn * 1000000) // n AS rate_ppm"
        "   FROM c CROSS JOIN m),"
        " k AS (SELECT d.lang, count(*) AS kept"
        "   FROM documents d JOIN r USING (lang)"
        "   WHERE ('0x' || substr(md5('rebal-' || CAST(doc_id AS VARCHAR)),"
        "     1, 8))::BIGINT % 1000000 < rate_ppm GROUP BY 1)"
        " SELECT r.lang, CAST(r.n AS BIGINT) AS n_total,"
        " CAST(r.rate_ppm AS BIGINT) AS rate_ppm,"
        " CAST(coalesce(k.kept, 0) AS BIGINT) AS n_kept"
        " FROM r LEFT JOIN k ON r.lang = k.lang"
    ),
    "ns_seq_pack": (
        "WITH d AS (SELECT doc_id, source,"
        "   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens"
        "   FROM documents),"
        " x AS (SELECT doc_id, source, n_tokens,"
        "   sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)"
        "     AS end_tok FROM d)"
        " SELECT doc_id, source, n_tokens,"
        f" CAST((end_tok - n_tokens) // {PACK_CAPACITY} AS BIGINT) AS seq_index,"
        f" CAST((end_tok - n_tokens) % {PACK_CAPACITY} AS BIGINT) AS offset"
        " FROM x"
    ),
    "ns_text_chunk": (
        f"WITH b AS (SELECT doc_id, {_TOKS_LIT} AS toks,"
        f"   len({_TOKS_LIT}) AS n FROM documents),"
        " c AS (SELECT doc_id, toks,"
        f"   (greatest(n - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE} - 1)"
        f"     // {CHUNK_STRIDE} AS extra FROM b),"
        " c2 AS (SELECT doc_id, toks, unnest(range(extra + 1)) AS cid FROM c)"
        " SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,"
        f" CAST(len(toks[cid * {CHUNK_STRIDE} + 1 :"
        f"   cid * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT) AS chunk_tokens,"
        f" array_to_string(toks[cid * {CHUNK_STRIDE} + 1 :"
        f"   cid * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text"
        " FROM c2"
    ),
    "ns_text_bigrams": (
        f"WITH t AS (SELECT {_TOKS_LIT} AS toks FROM documents),"
        " bg AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),"
        "   i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t)"
        " SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences"
        " FROM bg GROUP BY bigram"
        " ORDER BY n_occurrences DESC, bigram ASC LIMIT 20"
    ),
    "ns_text_repetition": (
        f"WITH t AS (SELECT doc_id, {_TOKS_LIT} AS toks FROM documents),"
        " s AS (SELECT doc_id,"
        "   list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
        "     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh"
        "   FROM t)"
        " SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,"
        " CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,"
        " CASE WHEN len(sh) > 0 THEN"
        "   floor((1 - CAST(len(list_distinct(sh)) AS DOUBLE)"
        "     / len(sh)) * 1e6 + 0.5) / 1e6"
        " END AS dup_frac"
        " FROM s"
    ),
    "ns_text_tokens": (
        "SELECT doc_id,"
        " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,"
        " CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_re_tokens"
        " FROM documents"
    ),
    "ns_text_quality": (
        "SELECT doc_id,"
        " CAST(length(text) AS BIGINT) AS n_chars_m,"
        f" CAST(len({_TOKS_LIT}) AS BIGINT) AS n_tokens,"
        f" CAST(list_sum(list_transform({_TOKS_LIT}, t -> length(t))) AS DOUBLE)"
        f"   / len({_TOKS_LIT}) AS avg_token_len,"
        f" CAST({_sql_stop_hits(STOPWORDS['en'])} AS DOUBLE) / len({_TOKS_LIT})"
        "   AS stopword_ratio,"
        f" least(CAST(len({_TOKS_LIT}) AS DOUBLE) / 50.0, 1.0) * 0.5"
        f"   + (CAST({_sql_stop_hits(STOPWORDS['en'])} AS DOUBLE) / len({_TOKS_LIT})) * 0.5"
        "   AS quality_score"
        " FROM documents"
    ),
    "ns_text_langid": (
        "SELECT doc_id,"
        " CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'"
        "      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'"
        "      WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,"
        " s_en, s_de, s_fr, s_es FROM ("
        "SELECT doc_id,"
        + ", ".join(
            f" {_sql_stop_hits(words)} AS s_{lang}" for lang, words in STOPWORDS.items()
        )
        + " FROM documents)"
    ),
    "ns_text_fingerprint": (
        "SELECT doc_id,"
        f" md5(array_to_string(list_sort(list_distinct({_TOKS_LIT})), ' '))"
        " AS fingerprint"
        " FROM documents"
    ),
    "ns_text_levenshtein": (
        "SELECT doc_id, CAST(levenshtein(w, prev_w) AS BIGINT) AS edit_dist FROM ("
        "  SELECT doc_id, w, lag(w) OVER ("
        f"    PARTITION BY doc_id // {LEVENSHTEIN_BLOCK} ORDER BY doc_id"
        "  ) AS prev_w FROM ("
        "    SELECT doc_id, regexp_extract(text, '^\\s*(\\w+)', 1) AS w"
        "    FROM documents))"
        " WHERE prev_w IS NOT NULL"
    ),
    "ns_corpus_curate": (
        "WITH s AS (SELECT doc_id,"
        + ", ".join(
            f" {_sql_stop_hits(words)} AS s_{lang}"
            for lang, words in STOPWORDS.items()
        )
        + f", CAST(len({_TOKS_LIT}) AS BIGINT) AS n_toks,"
        f" md5(array_to_string(list_sort(list_distinct({_TOKS_LIT})), ' '))"
        "   AS fingerprint"
        " FROM documents),"
        " scored AS (SELECT doc_id,"
        "   least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) * 0.5"
        "     + (CAST(s_en AS DOUBLE) / n_toks) * 0.5 AS quality_score,"
        "   CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'"
        "        WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'"
        "        WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,"
        "   fingerprint FROM s)"
        " SELECT doc_id, quality_score, fingerprint FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY fingerprint"
        "     ORDER BY doc_id) AS rn"
        "   FROM scored WHERE quality_score >= 0.5 AND pred_lang = 'en')"
        " WHERE rn = 1"
    ),
    "ns_text_winnow": (
        "WITH n AS (SELECT doc_id, lower(trim(text)) AS t FROM documents"
        f"   WHERE length(lower(trim(text))) >= {WINNOW_K}),"
        " idx AS (SELECT doc_id, t,"
        f"   unnest(range(length(t) - {WINNOW_K} + 1)) AS i FROM n),"
        " g AS (SELECT doc_id, i,"
        "   ('0x' || substr(md5(substr(t, CAST(i AS INT) + 1,"
        f" {WINNOW_K})), 1, 8))::BIGINT AS fp FROM idx),"
        " sel AS (SELECT doc_id, min(fp) OVER (PARTITION BY doc_id"
        f"   ORDER BY i ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)"
        "   AS fingerprint FROM g)"
        " SELECT DISTINCT doc_id, fingerprint FROM sel"
    ),
    "ns_text_tfidf_top": (
        "WITH toks AS (SELECT doc_id, unnest(" + _SQL_TOKS + ") AS tok"
        "   FROM documents WHERE doc_id < 50),"
        " tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),"
        " dfx AS (SELECT tok, COUNT(*) AS df FROM ("
        "   SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),"
        " scored AS (SELECT doc_id, tf.tok,"
        "   CAST(tf AS DOUBLE) * ln((50 + 1.0) / (df + 1.0)) AS tfidf"
        "   FROM tf JOIN dfx ON tf.tok = dfx.tok)"
        " SELECT doc_id, tok, tfidf, rnk FROM ("
        "   SELECT *, CAST(row_number() OVER (PARTITION BY doc_id"
        "     ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rnk FROM scored)"
        " WHERE rnk <= 3"
    ),
}

# Full-corpus packing prefix (the ns_seq_pack `x` CTE) for the span
# manifests.
_SQL_PACK_X = (
    "WITH d AS (SELECT doc_id, source,"
    "   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens"
    "   FROM documents),"
    " x AS (SELECT doc_id, source, n_tokens,"
    "   sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)"
    "     AS end_tok FROM d)"
)
ORACLES["ns_seq_spans"] = _SQL_PACK_X + _sql_spans_tail()
ORACLES["ns_manifest_spans"] = _sql_manifest_x() + _sql_spans_tail()
# Funnel readout: the manifest CTE chain already defines bt / keepx /
# canonk / contaminated — the report is one flag aggregate over them
# (unreferenced trailing CTEs like x are legal and unevaluated).
ORACLES["ns_curation_report"] = _sql_manifest_x() + """
, flags AS (SELECT bt.doc_id,
    CASE WHEN bucket < 8 THEN 1 ELSE 0 END AS in_train,
    CASE WHEN bt.doc_id IN (SELECT doc_id FROM keepx) THEN 1 ELSE 0 END AS ke,
    CASE WHEN bt.doc_id IN (SELECT doc_id FROM canonk) THEN 1 ELSE 0 END AS kc,
    CASE WHEN bt.doc_id IN (SELECT doc_id FROM contaminated)
      THEN 1 ELSE 0 END AS ct,
    len(string_split(bt.text, ' ')) AS nt
  FROM bt)
SELECT CAST(count(*) AS BIGINT) AS n_raw,
  CAST(sum(in_train) AS BIGINT) AS n_train,
  CAST(sum(in_train * ke) AS BIGINT) AS n_after_exact,
  CAST(sum(in_train * ke * kc) AS BIGINT) AS n_after_canon,
  CAST(sum(in_train * ke * kc * (1 - ct)) AS BIGINT) AS n_final,
  CAST(sum(in_train * ke * kc * (1 - ct) * nt) AS BIGINT) AS tokens_final
FROM flags
"""

ORACLES["ns_pack_efficiency"] = _SQL_PACK_X + f"""
, per_src AS (SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(max(end_tok) AS BIGINT) AS n_tokens,
    CAST(sum(CASE WHEN CAST(end_tok - n_tokens AS BIGINT) // {PACK_CAPACITY}
        <> CAST(end_tok - 1 AS BIGINT) // {PACK_CAPACITY}
      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
  FROM x GROUP BY 1)
SELECT source, n_docs, n_tokens,
  CAST((n_tokens + {PACK_CAPACITY} - 1) // {PACK_CAPACITY} AS BIGINT) AS n_seqs,
  CAST((n_tokens + {PACK_CAPACITY} - 1) // {PACK_CAPACITY} * {PACK_CAPACITY}
    - n_tokens AS BIGINT) AS tail_waste,
  floor(CAST(n_tokens AS DOUBLE)
    / ((n_tokens + {PACK_CAPACITY} - 1) // {PACK_CAPACITY} * {PACK_CAPACITY})
    * 1e6 + 0.5) / 1e6 AS fill_rate,
  n_straddlers
FROM per_src
"""


def ns_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL corpus-refresh loop — what actually runs in
    production after the first full build (ns_train_manifest): a new
    document batch arrives, and only it is processed:

    1. exact-dedup the batch against the persisted fingerprint store
       (keep-first within the batch, anti-join the store — the
       dedup_incremental shape; document bodies never move);
    2. decontaminate the batch survivors against the benchmark split
       on LONG verbatim 8-token grams (the GPT-3/PaLM "13-gram"
       decontamination style at this corpus's document scale — the
       3-word shingles ns_decontaminate/ns_train_manifest use are
       saturated by the synthetic shared vocabulary at sf0.1, where
       every batch doc trivially overlaps; long grams catch only
       genuine verbatim leakage);
    3. pack ONLY the survivors, CONTINUING each source's running
       token total from the existing corpus — new sequences append
       after the shipped ones instead of repacking the world.

    Fixture: existing corpus = doc_id < DELTA_SPLIT, arriving batch =
    the rest (train buckets only).  Cost scales with the BATCH, not
    the corpus: the store/base-total sides reduce to fingerprints and
    |sources| totals (at 100 TB both are persisted state — the store
    a bucketed table, the totals a |sources|-row readout of the last
    manifest)."""
    from pyspark.sql import Window

    from decision_tree_analytics_spark.operators.dedup import (
        DELTA_SPLIT,
        SUBSTRING_K,
        _word_shingles,
        fingerprint_col,
    )

    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
    )
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    existing = d.filter(F.col("doc_id") < DELTA_SPLIT)
    batch = d.filter((F.col("doc_id") >= DELTA_SPLIT) & (bucket < 8))
    store = existing.select(fingerprint_col().alias("fingerprint")).distinct()
    keep = (
        batch.select(fingerprint_col().alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(store, "fingerprint", "left_anti")
        .select("doc_id")
    )
    toked = d.select("doc_id", bucket.alias("bkt"), tokens().alias("toks"))
    grams = toked.select(
        "doc_id",
        "bkt",
        F.explode(
            F.array_distinct(_word_shingles(F.col("toks"), n=SUBSTRING_K))
        ).alias("gram"),
    ).select("doc_id", "bkt", F.md5("gram").alias("gh"))
    bench_g = grams.filter(F.col("bkt") == 9).select("gh")
    contaminated = (
        grams.filter((F.col("bkt") < 8) & (F.col("doc_id") >= DELTA_SPLIT))
        .join(bench_g, "gh", "semi")
        .select("doc_id")
        .distinct()
    )
    surv = (
        batch.join(keep, "doc_id", "semi")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", n_tok.alias("n_tokens"))
    )
    base = existing.groupBy("source").agg(F.sum(n_tok).alias("base_tok"))
    w = Window.partitionBy("source").orderBy("doc_id")
    x = surv.join(base, "source", "left").select(
        "doc_id",
        "source",
        "n_tokens",
        (
            F.coalesce("base_tok", F.lit(0)) + F.sum("n_tokens").over(w)
        ).alias("end_tok"),
    )
    return x.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "n_tokens",
        F.expr(f"(end_tok - n_tokens) div {PACK_CAPACITY}")
        .cast("long")
        .alias("seq_index"),
        ((F.col("end_tok") - F.col("n_tokens")) % PACK_CAPACITY)
        .cast("long")
        .alias("offset"),
    )


QUERIES["ns_incremental_manifest"] = ns_incremental_manifest


def _sql_incremental_manifest() -> str:
    from decision_tree_analytics_spark.operators.dedup import (
        DELTA_SPLIT,
        SUBSTRING_K,
    )

    c = PACK_CAPACITY
    return f"""
WITH fpx AS (SELECT md5(lower(trim(text))) AS fingerprint, doc_id
  FROM documents),
store AS (SELECT DISTINCT fingerprint FROM fpx WHERE doc_id < {DELTA_SPLIT}),
bt AS (SELECT doc_id, source, text,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10
      AS bucket
  FROM documents),
batch AS (SELECT f.fingerprint, f.doc_id FROM fpx f JOIN bt USING (doc_id)
  WHERE f.doc_id >= {DELTA_SPLIT} AND bt.bucket < 8),
keep2 AS (SELECT k.doc_id FROM (SELECT fingerprint, min(doc_id) AS doc_id
    FROM batch GROUP BY 1) k
  WHERE k.fingerprint NOT IN (SELECT fingerprint FROM store)),
tk AS (SELECT doc_id, bucket, string_split(lower(trim(text)), ' ') AS t
  FROM bt),
gx AS (SELECT doc_id, bucket,
    md5(array_to_string(t[i:i+{SUBSTRING_K - 1}], ' ')) AS gh
  FROM tk,
    LATERAL unnest(range(1, greatest(len(t) - {SUBSTRING_K - 2}, 1))) AS s(i)),
contaminated AS (SELECT DISTINCT tr.doc_id
  FROM (SELECT doc_id, gh FROM gx
    WHERE bucket < 8 AND doc_id >= {DELTA_SPLIT}) tr
  JOIN (SELECT gh FROM gx WHERE bucket = 9) b USING (gh)),
surv AS (SELECT bt.doc_id, bt.source,
    CAST(len(string_split(bt.text, ' ')) AS BIGINT) AS n_tokens
  FROM bt
  WHERE bt.doc_id IN (SELECT doc_id FROM keep2)
    AND bt.doc_id NOT IN (SELECT doc_id FROM contaminated)),
base AS (SELECT source,
    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS base_tok
  FROM bt WHERE doc_id < {DELTA_SPLIT} GROUP BY 1),
x AS (SELECT s.doc_id, s.source, s.n_tokens,
    CAST(coalesce(b.base_tok, 0)
      + sum(s.n_tokens) OVER (PARTITION BY s.source ORDER BY s.doc_id)
      AS BIGINT) AS end_tok
  FROM surv s LEFT JOIN base b USING (source))
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens,
  CAST((end_tok - n_tokens) // {c} AS BIGINT) AS seq_index,
  CAST((end_tok - n_tokens) % {c} AS BIGINT) AS offset
FROM x
"""


ORACLES["ns_incremental_manifest"] = _sql_incremental_manifest()


BIGRAM_VOCAB = 256  # capped first/second-token vocabulary (CCNet-style)
BIGRAM_ADD_K = 0.5  # add-k smoothing pseudo-count


def ns_bigram_lm(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Bigram language-model quality filter — the order-2 upgrade of
    ns_perplexity_proxy: score every document by its per-bigram
    cross-entropy against an add-k-smoothed bigram model trained on
    the corpus itself over a CAPPED vocabulary (out-of-vocab tokens
    collapse to one <oov> symbol), and return the k most surprising
    documents.  This is the KenLM-shaped filter of CCNet/Gopher-style
    pipelines: a doc whose word ORDER is unlike the corpus scores
    high even when its unigram mix looks normal (shuffled text,
    keyword stuffing, wrong language with shared vocabulary).

    Scale shape: the model is bounded by construction — ≤ VOCAB top
    tokens (count DESC, token ASC tie-break) and therefore
    ≤ (VOCAB+1)² mapped-bigram rows — so both model joins broadcast a
    constant regardless of corpus size; everything else is two
    explode-aggregates and one per-doc combine.  P(w2|w1) =
    (c(w1,w2)+k) / (c(w1·)+k·(V+1)) with c(w1·) the observed-bigram
    context total; the per-doc mean of −log₂P rounds 1e-6 at the end
    (the same summation contract every scoring query here uses)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda p, q: F.struct(p.alias("w1"), q.alias("w2")),
    )
    bg = d.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # persist the tiny top-N vocab: it feeds THREE branches (both
    # mapping joins and the vocab-size row) and Catalyst reuses no
    # exchange across branches — unpersisted, each branch re-ran the
    # full corpus token-count (the BM25-postings lesson).
    vocab = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(BIGRAM_VOCAB)
        .select("tok")
        .persist()
    )
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    m1 = F.broadcast(vocab.select(F.col("tok").alias("w1"), F.lit(1).alias("k1")))
    m2 = F.broadcast(vocab.select(F.col("tok").alias("w2"), F.lit(1).alias("k2")))
    mapped = (
        bg.join(m1, "w1", "left")
        .join(m2, "w2", "left")
        .select(
            "doc_id",
            F.when(F.col("k1") == 1, F.col("w1")).otherwise("<oov>").alias("w1m"),
            F.when(F.col("k2") == 1, F.col("w2")).otherwise("<oov>").alias("w2m"),
        )
        .persist()
    )
    big = mapped.groupBy("w1m", "w2m").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    ctx = big.groupBy("w1m").agg(F.sum("c12").cast("long").alias("c1"))
    p = (F.col("c12").cast("double") + BIGRAM_ADD_K) / (
        F.col("c1").cast("double") + BIGRAM_ADD_K * (F.col("v") + 1).cast("double")
    )
    scored = (
        mapped.join(F.broadcast(big), ["w1m", "w2m"])
        .join(F.broadcast(ctx), "w1m")
        .crossJoin(F.broadcast(vsize))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (F.sum(-F.log(2.0, p)) / F.count(F.lit(1))).alias("xent"),
        )
    )
    result = (
        scored.select(
            "doc_id",
            "n_bigrams",
            round6(F.col("xent")).alias("bits_per_bigram"),
        )
        .orderBy(F.col("bits_per_bigram").desc(), F.col("doc_id"))
        .limit(k)
    )
    return tether_cache(result, mapped, vocab)


QUERIES["ns_bigram_lm"] = ns_bigram_lm
ORACLES["ns_bigram_lm"] = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM d, LATERAL unnest(range(1, greatest(len(t), 1))) s(i)),
vocab AS (SELECT tok FROM (
    SELECT unnest(t) AS tok FROM d) u
  GROUP BY tok ORDER BY count(*) DESC, tok LIMIT {BIGRAM_VOCAB}),
vs AS (SELECT count(*) AS v FROM vocab),
mapped AS (SELECT doc_id,
    CASE WHEN m1.tok IS NOT NULL THEN w1 ELSE '<oov>' END AS w1m,
    CASE WHEN m2.tok IS NOT NULL THEN w2 ELSE '<oov>' END AS w2m
  FROM bg LEFT JOIN vocab m1 ON bg.w1 = m1.tok
  LEFT JOIN vocab m2 ON bg.w2 = m2.tok),
big AS (SELECT w1m, w2m, CAST(count(*) AS BIGINT) AS c12
  FROM mapped GROUP BY 1, 2),
ctx AS (SELECT w1m, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY 1),
scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    sum(-ln((CAST(c12 AS DOUBLE) + {BIGRAM_ADD_K})
        / (CAST(c1 AS DOUBLE) + {BIGRAM_ADD_K} * CAST(v + 1 AS DOUBLE)))
      / ln(2)) / count(*) AS xent
  FROM mapped JOIN big USING (w1m, w2m) JOIN ctx USING (w1m)
  CROSS JOIN vs GROUP BY doc_id)
SELECT doc_id, n_bigrams,
  floor(xent * 1e6 + 0.5) / 1e6 AS bits_per_bigram
FROM scored ORDER BY bits_per_bigram DESC, doc_id LIMIT 50
"""


CURR_EPOCH_TOKENS = 2048  # token budget per curriculum epoch


def ns_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling for LLM training: order the corpus by
    quality tier (high-quality docs train first), deterministically
    shuffle within each tier, then cut the ordered token stream into
    fixed-budget epochs — the scheduling stage that follows
    ns_corpus_curate / ns_seq_pack in a training-data pipeline.

    Tiering reuses the shared composite quality score (tier 0 ≥ 0.75,
    tier 1 ≥ 0.5, else 2; the score is the same expression tree on
    both engines, so the threshold comparisons see identical doubles).
    The intra-tier "shuffle" is the md5 of a salted doc_id — content-
    independent, engine-portable, and unique, so every ordering below
    carries the (okey, doc_id) tie-break of rule 5.

    The interesting part at 100 TB is the global running token count:
    a single ORDER BY window would funnel the corpus through one task.
    Instead the prefix sum is decomposed hierarchically — the classic
    distributed scan:

    * within (tier, md5-prefix bucket): one windowed running sum,
      partitioned 3 tiers × 256 buckets, each partition O(corpus/768);
    * per-bucket totals → per-tier bucket offsets (a ≤256-row window
      per tier — a bounded grid, broadcast back);
    * per-tier totals → tier offsets (a 3-row grid).

    cum_before = tier_offset + bucket_offset + in-bucket prefix, and
    epoch = cum_before div budget.  One corpus scan feeds everything:
    the 5-column tokenized projection is persisted and the two offset
    tables derived from it are broadcast joins.  All counters are
    BIGINT — no float order anywhere."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    okey = F.md5(F.concat(F.lit("curr-"), F.col("doc_id").cast("string")))
    q = _quality_score_col(toks)
    tier = (
        F.when(q >= 0.75, F.lit(0)).when(q >= 0.5, F.lit(1)).otherwise(F.lit(2))
    ).cast("long")
    proj = d.select(
        "doc_id",
        tier.alias("tier"),
        okey.alias("okey"),
        F.substring(okey, 1, 2).alias("bucket"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).persist()
    w_in = (
        Window.partitionBy("tier", "bucket")
        .orderBy("okey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cin = proj.withColumn(
        "cum_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)).cast("long")
    )
    w_b = (
        Window.partitionBy("tier")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bo = (
        proj.groupBy("tier", "bucket")
        .agg(F.sum("n_tokens").alias("btok"))
        .select(
            "tier",
            "bucket",
            F.coalesce(F.sum("btok").over(w_b), F.lit(0)).cast("long").alias("boff"),
        )
    )
    w_t = Window.orderBy("tier").rowsBetween(Window.unboundedPreceding, -1)
    toff = (
        proj.groupBy("tier")
        .agg(F.sum("n_tokens").alias("ttok"))
        .select(
            "tier",
            F.coalesce(F.sum("ttok").over(w_t), F.lit(0)).cast("long").alias("toffv"),
        )
    )
    cum = (F.col("toffv") + F.col("boff") + F.col("cum_in")).cast("long")
    result = (
        cin.join(F.broadcast(bo), ["tier", "bucket"])
        .join(F.broadcast(toff), "tier")
        .select(
            "doc_id",
            "tier",
            "n_tokens",
            cum.alias("cum_before"),
            F.expr(f"(toffv + boff + cum_in) div {CURR_EPOCH_TOKENS}")
            .cast("long")
            .alias("epoch"),
        )
    )
    return tether_cache(result, proj)


QUERIES["ns_curriculum_order"] = ns_curriculum_order
ORACLES["ns_curriculum_order"] = f"""
WITH d AS (SELECT doc_id,
    CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
    least(CAST(len({_TOKS_LIT}) AS DOUBLE) / 50.0, 1.0) * 0.5
      + (CAST({_sql_stop_hits(STOPWORDS["en"])} AS DOUBLE)
         / len({_TOKS_LIT})) * 0.5 AS q,
    md5('curr-' || CAST(doc_id AS VARCHAR)) AS okey
  FROM documents),
t AS (SELECT doc_id, n_tokens, okey, substr(okey, 1, 2) AS bucket,
    CAST(CASE WHEN q >= 0.75 THEN 0 WHEN q >= 0.5 THEN 1 ELSE 2 END
      AS BIGINT) AS tier
  FROM d),
cin AS (SELECT doc_id, tier, bucket, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY tier, bucket
      ORDER BY okey, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_in
  FROM t),
bt AS (SELECT tier, bucket, sum(n_tokens) AS btok FROM t GROUP BY 1, 2),
bo AS (SELECT tier, bucket,
    CAST(coalesce(sum(btok) OVER (PARTITION BY tier ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS boff
  FROM bt),
tt AS (SELECT tier, sum(n_tokens) AS ttok FROM t GROUP BY 1),
toff AS (SELECT tier,
    CAST(coalesce(sum(ttok) OVER (ORDER BY tier
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS toffv
  FROM tt)
SELECT doc_id, tier, n_tokens,
  CAST(toffv + boff + cum_in AS BIGINT) AS cum_before,
  CAST((toffv + boff + cum_in) // {CURR_EPOCH_TOKENS} AS BIGINT) AS epoch
FROM cin JOIN bo USING (tier, bucket) JOIN toff USING (tier)
"""


QM_ITERS = 5  # unrolled full-batch GD steps
QM_LR = 0.5  # learning rate (ratio features are O(1), so 0.5 is tame)
QM_LANGS = ("en", "de", "fr", "es")


def ns_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED quality/language filter — the CCNet-style counterpart
    to ns_gopher_filter's handcrafted rules: train a logistic
    regression (QM_ITERS unrolled full-batch GD steps, the
    ml_logreg_gd machinery) to predict the metadata ``lang == 'en'``
    label from the four cheap stopword-rate features, on the md5
    bucket < 8 split; report the held-out keep decision the filter
    would make at p ≥ 0.5.

    Training is hash-verified end to end: each step is one scan of
    the persisted feature projection + a 1-row weight broadcast, and
    the readout keeps integers integral (kept/match counts BIGINT)
    with only the final loss/weights rounded 1e-6.  The sigmoid stays
    well inside (0, 1) at these feature scales, so no ln(0)/ANSI
    guard is needed (same argument as ml_logreg_gd).

    Data note: the synthetic corpus draws every lang from one shared
    vocabulary (CLAUDE.md) — signal is weak by construction, so tests
    pin STRUCTURE (split sizes, count bounds, loss finiteness), never
    accuracy.  Scale: 5 + 2 one-pass mergeable aggregates over one
    persisted projection; the model is a 1-row broadcast at every
    step — the full-batch GD cost model."""
    d = load_table(spark, sf_dir, "documents")
    d = spread(d, "doc_id")
    toks = tokens()
    n = F.size(toks).cast("double")
    feats = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        *[
            (_stop_hits(toks, STOPWORDS[lang]).cast("double") / n).alias(
                f"x{i + 1}"
            )
            for i, lang in enumerate(QM_LANGS)
        ],
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 10
        ).alias("bucket"),
    ).persist()
    train = feats.filter(F.col("bucket") < 8)
    test = feats.filter(F.col("bucket") >= 8)
    margin = (
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
        + F.col("w4") * F.col("x4")
    )
    w = spark.range(1).select(*[F.lit(0.0).alias(f"w{j}") for j in range(5)])
    for _ in range(QM_ITERS):
        j = train.crossJoin(F.broadcast(w)).withColumn(
            "p", 1.0 / (1.0 + F.exp(-margin))
        )
        err = F.col("p") - F.col("y")
        w = j.agg(
            (F.max("w0") - QM_LR * F.avg(err)).alias("w0"),
            *[
                (F.max(f"w{k}") - QM_LR * F.avg(err * F.col(f"x{k}"))).alias(
                    f"w{k}"
                )
                for k in range(1, 5)
            ],
        )
    tr = train.crossJoin(F.broadcast(w)).withColumn(
        "p", 1.0 / (1.0 + F.exp(-margin))
    )
    t1 = tr.agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        *[round6(F.max(f"w{j}")).alias(f"w{j}") for j in range(5)],
        round6(
            F.avg(
                -(
                    F.col("y") * F.log("p")
                    + (1.0 - F.col("y")) * F.log(1.0 - F.col("p"))
                )
            )
        ).alias("train_logloss"),
    )
    te = test.crossJoin(F.broadcast(w)).withColumn(
        "p", 1.0 / (1.0 + F.exp(-margin))
    )
    t2 = te.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum((F.col("p") >= 0.5).cast("long")).cast("long").alias("kept_count"),
        F.sum(
            ((F.col("p") >= 0.5).cast("double") == F.col("y")).cast("long")
        )
        .cast("long")
        .alias("match_count"),
    )
    result = t1.crossJoin(F.broadcast(t2))
    return tether_cache(result, feats)


def _quality_model_oracle() -> str:
    margin = "w0 + w1*x1 + w2*x2 + w3*x3 + w4*x4"
    ratios = ", ".join(
        f"CAST({_sql_stop_hits(STOPWORDS[lang])} AS DOUBLE)"
        f" / len({_TOKS_LIT}) AS x{i + 1}"
        for i, lang in enumerate(QM_LANGS)
    )
    parts = [
        "WITH f AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,"
        f" {ratios},"
        " ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10"
        "   AS bucket"
        " FROM documents),"
        " tr AS (SELECT * FROM f WHERE bucket < 8),"
        " te AS (SELECT * FROM f WHERE bucket >= 8),"
        " it0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,"
        " 0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3, 0.0::DOUBLE AS w4)"
    ]
    for i in range(1, QM_ITERS + 1):
        grads = ", ".join(
            f"max(w{k}) - {QM_LR} * avg((p - y) * x{k}) AS w{k}"
            for k in range(1, 5)
        )
        parts.append(
            f", it{i} AS (SELECT max(w0) - {QM_LR} * avg(p - y) AS w0, {grads}"
            f" FROM (SELECT *, 1.0/(1.0 + exp(-({margin}))) AS p"
            f" FROM tr CROSS JOIN it{i - 1}))"
        )
    ws = ", ".join(
        f"floor(max(w{j}) * 1e6 + 0.5) / 1e6 AS w{j}" for j in range(5)
    )
    parts.append(
        f", t1 AS (SELECT CAST(count(*) AS BIGINT) AS n_train, {ws},"
        " floor(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) * 1e6 + 0.5)"
        " / 1e6 AS train_logloss"
        f" FROM (SELECT *, 1.0/(1.0 + exp(-({margin}))) AS p"
        f" FROM tr CROSS JOIN it{QM_ITERS})),"
        " t2 AS (SELECT CAST(count(*) AS BIGINT) AS n_test,"
        " CAST(sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS kept_count,"
        " CAST(sum(CASE WHEN (CASE WHEN p >= 0.5 THEN 1.0 ELSE 0.0 END) = y"
        "   THEN 1 ELSE 0 END) AS BIGINT) AS match_count"
        f" FROM (SELECT *, 1.0/(1.0 + exp(-({margin}))) AS p"
        f" FROM te CROSS JOIN it{QM_ITERS}))"
        " SELECT * FROM t1 CROSS JOIN t2"
    )
    return "".join(parts)


QUERIES["ns_quality_model"] = ns_quality_model
ORACLES["ns_quality_model"] = _quality_model_oracle()


BOILERPLATE_PREFIX_TOKENS = 8
BOILERPLATE_TOP_K = 20


def ns_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-header detection: group documents by their leading
    BOILERPLATE_PREFIX_TOKENS-token prefix and surface the TOP_K most
    shared prefixes — the web-corpus curation pass that catches
    templated headers/licenses/navigation chrome that survive
    whole-document dedup (the prefix repeats, the tails differ).

    Map-only prefix derivation (slice + md5, pure codegen), ONE
    aggregate keyed on the 32-char prefix hash (never the prefix
    text — at 100 TB the shuffle carries hashes), then a top-k rank
    over the aggregated prefix table.  is_shared flags n_docs ≥ 2;
    doc-id extrema give the auditor a reproducible sample.  Ordering
    ties break on the md5 (unique key, rule 5)."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(tokens(), 1, BOILERPLATE_PREFIX_TOKENS), " ")
    per = (
        d.select("doc_id", F.md5(prefix).alias("prefix_md5"))
        .groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("prefix_md5").asc())
    return (
        per.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= BOILERPLATE_TOP_K)
        .select(
            "prefix_md5",
            "n_docs",
            (F.col("n_docs") >= 2).cast("long").alias("is_shared"),
            "min_doc",
            "max_doc",
        )
    )


QUERIES["ns_boilerplate_prefix"] = ns_boilerplate_prefix
ORACLES["ns_boilerplate_prefix"] = f"""
WITH per AS (
  SELECT md5(array_to_string(list_slice(
      string_split(lower(trim(text)), ' '), 1, {BOILERPLATE_PREFIX_TOKENS}),
      ' ')) AS prefix_md5,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(min(doc_id) AS BIGINT) AS min_doc,
    CAST(max(doc_id) AS BIGINT) AS max_doc
  FROM documents GROUP BY 1),
ranked AS (SELECT *, row_number() OVER (ORDER BY n_docs DESC,
    prefix_md5 ASC) AS rn FROM per)
SELECT prefix_md5, n_docs,
  CAST(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END AS BIGINT) AS is_shared,
  min_doc, max_doc
FROM ranked WHERE rn <= {BOILERPLATE_TOP_K}
"""


CODE_SYMBOLS = "[;{}()=<>\\[\\]|&#]"  # char-class only (regex rule 7)
CODE_FLAG_PPM = 20_000  # symbol ratio above 2% chars flags 'code-like'


def ns_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection per source: symbol-character ratio,
    digit ratio, and code-like flags — the corpus-routing pass that
    sends code to a code pipeline and keeps prose filters from eating
    JSON/XML/source fragments (natural-language quality rules fire
    falsely on code).

    Ratios come from length-difference counting (length(text) −
    length(regexp_replace(text, class, ''))) with CHAR-CLASS-ONLY
    patterns — the regex subset identical in Java regex and RE2/DuckDB
    (rule 7; DuckDB needs the explicit 'g' flag).  Per-doc ratios are
    floor-scaled to integer ppm before the per-source sums (rule 9),
    and the n_chars denominator is nullif-guarded (rule 8).  Map-only
    per-doc scoring, one bounded aggregate — zero joins at any SF."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    symbols = n_chars - F.length(F.regexp_replace(F.col("text"), CODE_SYMBOLS, ""))
    digits = n_chars - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    sym_ppm = F.floor(
        symbols.cast("double")
        / F.nullif(n_chars.cast("double"), F.lit(0.0))
        * 1e6
        + 0.5
    ).cast("long")
    dig_ppm = F.floor(
        digits.cast("double")
        / F.nullif(n_chars.cast("double"), F.lit(0.0))
        * 1e6
        + 0.5
    ).cast("long")
    per = d.select(
        "source",
        F.coalesce(sym_ppm, F.lit(0)).alias("sym_ppm"),
        F.coalesce(dig_ppm, F.lit(0)).alias("dig_ppm"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("sym_ppm") >= CODE_FLAG_PPM).cast("long"))
        .cast("long")
        .alias("n_code_like"),
        F.floor(
            F.sum("sym_ppm").cast("double") / F.count(F.lit(1)).cast("double")
            + 0.5
        )
        .cast("long")
        .alias("mean_sym_ppm"),
        F.floor(
            F.sum("dig_ppm").cast("double") / F.count(F.lit(1)).cast("double")
            + 0.5
        )
        .cast("long")
        .alias("mean_dig_ppm"),
        F.max("sym_ppm").cast("long").alias("max_sym_ppm"),
    )


QUERIES["ns_code_detect"] = ns_code_detect
ORACLES["ns_code_detect"] = f"""
WITH per AS (
  SELECT source,
    coalesce(CAST(floor(
      CAST(len(text) - len(regexp_replace(text, '{CODE_SYMBOLS}', '', 'g'))
        AS DOUBLE)
      / nullif(CAST(len(text) AS DOUBLE), 0.0) * 1e6 + 0.5) AS BIGINT), 0)
      AS sym_ppm,
    coalesce(CAST(floor(
      CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
        AS DOUBLE)
      / nullif(CAST(len(text) AS DOUBLE), 0.0) * 1e6 + 0.5) AS BIGINT), 0)
      AS dig_ppm
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN sym_ppm >= {CODE_FLAG_PPM} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_code_like,
  CAST(floor(CAST(sum(sym_ppm) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
    AS BIGINT) AS mean_sym_ppm,
  CAST(floor(CAST(sum(dig_ppm) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
    AS BIGINT) AS mean_dig_ppm,
  CAST(max(sym_ppm) AS BIGINT) AS max_sym_ppm
FROM per GROUP BY source
"""


SPAN_MIN_TOKENS = 20  # docs shorter than this produce no spans
SPAN_STRATUM = 20  # one span per 20 tokens ⇒ ~15% masked at mean len 3


def ns_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption plan: for each document, a
    deterministic manifest of mask spans (one per SPAN_STRATUM-token
    stratum, length 2-4 ⇒ ~15% of tokens masked at mean span 3) with
    the sentinel id each span maps to — the denoising-objective
    data-prep pass, emitted as a manifest so the (expensive) text
    rewrite happens exactly once downstream.

    Stratified placement: span k lives inside token stratum k, offset
    by md5(doc_id, k) within the stratum (content-derived, rule 6) —
    strata make spans non-overlapping BY CONSTRUCTION, no sequential
    scan or rejection loop, so the whole plan is one explode of pure
    codegen arithmetic (the mm_patch_manifest shape on token space).
    Span length 2 + md5 mod 3 ≤ 4 < SPAN_STRATUM − 1 keeps every span
    strictly inside its stratum.  Map-only + explode: zero shuffles
    at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens()).cast("long")
    g = d.select("doc_id", n_tok.alias("n_tok")).filter(
        F.col("n_tok") >= SPAN_MIN_TOKENS
    )
    g = g.select(
        "doc_id",
        "n_tok",
        F.expr(f"n_tok div {SPAN_STRATUM}").cast("long").alias("n_spans"),
    )
    s = g.select(
        "doc_id",
        "n_tok",
        "n_spans",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("span_id"),
    )
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("doc_id").cast("string"),
                    F.col("span_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    span_len = (F.lit(2) + draw % 3).cast("long")
    # stratum k covers tokens [k*S, (k+1)*S); the span starts at a
    # md5-derived offset that keeps start+len inside the stratum
    offset = (draw % (F.lit(SPAN_STRATUM) - span_len + 1)).cast("long")
    start = (F.col("span_id") * SPAN_STRATUM + offset).cast("long")
    return s.select(
        "doc_id",
        F.col("span_id").cast("long").alias("span_id"),
        start.alias("start_tok"),
        span_len.alias("len_tok"),
        (F.lit(250_000) - F.col("span_id")).cast("long").alias("sentinel_id"),
        "n_tok",
    )


QUERIES["ns_span_corruption"] = ns_span_corruption
ORACLES["ns_span_corruption"] = f"""
WITH g AS (SELECT doc_id,
    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok
  FROM documents),
f AS (SELECT doc_id, n_tok, n_tok // {SPAN_STRATUM} AS n_spans FROM g
  WHERE n_tok >= {SPAN_MIN_TOKENS}),
s AS (SELECT doc_id, n_tok, n_spans,
    unnest(range(n_spans)) AS span_id
  FROM f),
d AS (SELECT doc_id, n_tok, span_id,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-'
      || CAST(span_id AS VARCHAR)), 1, 8))::BIGINT AS draw
  FROM s)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
  CAST(span_id * {SPAN_STRATUM}
    + draw % ({SPAN_STRATUM} - (2 + draw % 3) + 1) AS BIGINT) AS start_tok,
  CAST(2 + draw % 3 AS BIGINT) AS len_tok,
  CAST(250000 - span_id AS BIGINT) AS sentinel_id,
  n_tok
FROM d
"""


# ------------------------------------------------------------------
# r9: cross-generation manifest diff (VERDICT r8 item 6)
# ------------------------------------------------------------------

# Generation membership + qualification policy.  Each generation is a
# deterministic md5-bucket crawl slice with its own quality gate and
# tier thresholds — g2 adds the bucket-0 docs g1 was missing, drops
# bucket-1, tightens the token gate 20→25, and moves the high-tier cut
# 60→70, so every diff category is populated by construction.
MDIFF_BUCKETS = 20
MDIFF_G1_GATE, MDIFF_G2_GATE = 20, 25
MDIFF_G1_HIGH, MDIFF_G2_HIGH = 60, 70


def ns_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-manifest generation diff — the dataset-versioning audit
    every production pipeline runs between crawl/policy generations:
    per source domain, how many documents were added, removed, or
    REQUALIFIED (present in both generations but in a different
    quality tier), and the net token delta the next training run will
    see.

    Built on the snap_row_diff pattern (operators/cdc.py:253): the two
    generations are materialized as independent sub-plans and FULL
    OUTER joined on doc_id — the shape that generalizes to two
    physically separate manifest tables (here both derive from the
    same corpus with different md5-bucket membership + gates, so the
    oracle can rebuild each side exactly).  Scale: the join key is the
    8-byte doc_id, classification is pure column arithmetic on the
    joined row, and the per-source rollup is one map-side-combinable
    aggregate — identical cost profile to snap_row_diff at any corpus
    size.  All counts/deltas are exact BIGINTs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens()).cast("long").alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % MDIFF_BUCKETS
        ).alias("bucket"),
    )
    g1 = d.filter(
        (F.col("bucket") != 0) & (F.col("n_tok") >= MDIFF_G1_GATE)
    ).select(
        F.col("doc_id").alias("id1"),
        F.col("source").alias("src1"),
        F.col("n_tok").alias("tok1"),
        F.when(F.col("n_tok") >= MDIFF_G1_HIGH, F.lit("high"))
        .otherwise(F.lit("mid"))
        .alias("tier1"),
    )
    g2 = d.filter(
        (F.col("bucket") != 1) & (F.col("n_tok") >= MDIFF_G2_GATE)
    ).select(
        F.col("doc_id").alias("id2"),
        F.col("source").alias("src2"),
        F.col("n_tok").alias("tok2"),
        F.when(F.col("n_tok") >= MDIFF_G2_HIGH, F.lit("high"))
        .otherwise(F.lit("mid"))
        .alias("tier2"),
    )
    j = g1.join(g2, g1.id1 == g2.id2, "full_outer")
    return (
        j.select(
            F.coalesce("src2", "src1").alias("source"),
            F.when(F.col("id1").isNull(), 1).otherwise(0).cast("long").alias("added"),
            F.when(F.col("id2").isNull(), 1).otherwise(0).cast("long").alias("removed"),
            F.when(
                F.col("id1").isNotNull()
                & F.col("id2").isNotNull()
                & (F.col("tier1") != F.col("tier2")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("requalified"),
            F.when(
                F.col("id1").isNotNull()
                & F.col("id2").isNotNull()
                & (F.col("tier1") == F.col("tier2")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("unchanged"),
            (F.coalesce("tok2", F.lit(0)) - F.coalesce("tok1", F.lit(0)))
            .cast("long")
            .alias("tok_delta"),
        )
        .groupBy("source")
        .agg(
            F.sum("added").cast("long").alias("docs_added"),
            F.sum("removed").cast("long").alias("docs_removed"),
            F.sum("requalified").cast("long").alias("docs_requalified"),
            F.sum("unchanged").cast("long").alias("docs_unchanged"),
            F.sum("tok_delta").cast("long").alias("token_delta"),
        )
    )


QUERIES["ns_manifest_diff"] = ns_manifest_diff
ORACLES["ns_manifest_diff"] = f"""
WITH d AS (SELECT doc_id, source,
    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      % {MDIFF_BUCKETS} AS bucket
  FROM documents),
g1 AS (SELECT doc_id AS id1, source AS src1, n_tok AS tok1,
    CASE WHEN n_tok >= {MDIFF_G1_HIGH} THEN 'high' ELSE 'mid' END AS tier1
  FROM d WHERE bucket <> 0 AND n_tok >= {MDIFF_G1_GATE}),
g2 AS (SELECT doc_id AS id2, source AS src2, n_tok AS tok2,
    CASE WHEN n_tok >= {MDIFF_G2_HIGH} THEN 'high' ELSE 'mid' END AS tier2
  FROM d WHERE bucket <> 1 AND n_tok >= {MDIFF_G2_GATE}),
j AS (SELECT * FROM g1 FULL OUTER JOIN g2 ON g1.id1 = g2.id2)
SELECT coalesce(src2, src1) AS source,
  CAST(sum(CASE WHEN id1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_added,
  CAST(sum(CASE WHEN id2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed,
  CAST(sum(CASE WHEN id1 IS NOT NULL AND id2 IS NOT NULL
    AND tier1 <> tier2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_requalified,
  CAST(sum(CASE WHEN id1 IS NOT NULL AND id2 IS NOT NULL
    AND tier1 = tier2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_unchanged,
  CAST(sum(coalesce(tok2, 0) - coalesce(tok1, 0)) AS BIGINT) AS token_delta
FROM j GROUP BY 1
"""


# ------------------------------------------------------------------
# r9: tokenizer vocabulary coverage (OOV rate)
# ------------------------------------------------------------------

OOV_VOCAB_TOP_N = 256  # fixed top-K vocabulary — broadcast-bounded


def ns_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus's own
    top-{OOV_VOCAB_TOP_N} token vocabulary — the tokenizer-coverage
    audit run before fixing a vocab for training (a lang whose OOV ppm
    is high will fragment into bytes/UNKs and train poorly).

    Scale: the vocabulary is top-K by construction
    (TakeOrderedAndProject, count DESC / token ASC unique tie-break —
    rule 5), so the membership join broadcasts a CONSTANT-bounded
    frame, never O(corpus); token explosion is the one wide stage,
    PERSISTED because both the vocab build and the membership join
    consume it (the BM25 exchange-reuse lesson — Catalyst does not
    share a scan across branches), and the per-lang rollup is
    map-side combinable.  oov_ppm is integer micro-units via BIGINT
    div (rule 3)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(_TOKEN_REGEX), 0
            )
        ).alias("tok"),
    ).persist()
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(OOV_VOCAB_TOP_N)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    result = joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.expr(
            "CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)"
            " * 1000000 div count(1) AS BIGINT)"
        ).alias("oov_ppm"),
    )
    return tether_cache(result, toks)


QUERIES["ns_oov_rate"] = ns_oov_rate
ORACLES["ns_oov_rate"] = rf"""
WITH toks AS (SELECT lang,
    unnest(regexp_extract_all(lower(text), '\w+|[^\w\s]')) AS tok
  FROM documents),
vocab AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY 1)
  ORDER BY n DESC, tok ASC LIMIT {OOV_VOCAB_TOP_N}),
j AS (SELECT t.lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v USING (tok))
SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(oov) AS BIGINT) AS n_oov,
  CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
FROM j GROUP BY 1
"""


# ------------------------------------------------------------------
# r9: chat-template assembly accounting (SFT data prep)
# ------------------------------------------------------------------

CHAT_PROMPT_CHARS = 120  # chars routed to the user turn
CHAT_SYSTEM = "You are a helpful assistant."
# Fixed per-example template skeleton (ChatML-style).  Rendered ONCE
# as a Python literal so both engines count the identical overhead.
CHAT_SKELETON = (
    "<|im_start|>system\n" + CHAT_SYSTEM + "<|im_end|>\n"
    "<|im_start|>user\n<|im_end|>\n"
    "<|im_start|>assistant\n<|im_end|>\n"
)
CHAT_MAX_TOKENS = 256  # context budget for the truncation flag


def ns_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template assembly accounting — the SFT-data-prep pass that
    turns raw documents into single-turn chat examples (first
    CHAT_PROMPT_CHARS chars → user turn, remainder → assistant turn,
    fixed ChatML skeleton) and reports, per language: example count,
    content tokens, template-overhead tokens, and how many examples
    would truncate at a CHAT_MAX_TOKENS context.

    The overhead is counted from the CHAT_SKELETON literal (same
    Python-rendered constant embedded in both plans — the ndcg
    precomputed-literal idiom), so no engine tokenizes template
    markup.  Map-only until the per-lang rollup: substring split +
    regex token counts per row, one aggregate — at 100 TB this is the
    same plan.  overhead_ppm is integer micro-units via BIGINT div
    (rule 3); substring is character-based in BOTH engines (UTF-8
    safe)."""
    import re as _re_mod

    skel_tokens = len(_re_mod.findall(r"\w+|[^\w\s]", CHAT_SKELETON))
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(
            F.regexp_extract_all(
                F.lower(F.substring(F.col("text"), 1, CHAT_PROMPT_CHARS)),
                F.lit(_TOKEN_REGEX),
                0,
            )
        )
        .cast("long")
        .alias("prompt_toks"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.substring(F.col("text"), CHAT_PROMPT_CHARS + 1, 1_000_000)),
                F.lit(_TOKEN_REGEX),
                0,
            )
        )
        .cast("long")
        .alias("completion_toks"),
    ).select(
        "lang",
        "prompt_toks",
        "completion_toks",
        (F.col("prompt_toks") + F.col("completion_toks") + F.lit(skel_tokens))
        .cast("long")
        .alias("total_toks"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_examples"),
        F.sum(F.col("prompt_toks") + F.col("completion_toks"))
        .cast("long")
        .alias("content_tokens"),
        (F.count(F.lit(1)) * skel_tokens).cast("long").alias("overhead_tokens"),
        F.sum(F.when(F.col("total_toks") > CHAT_MAX_TOKENS, 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.expr(
            f"CAST(count(1) * {skel_tokens} * 1000000"
            f" div (sum(prompt_toks + completion_toks)"
            f"      + count(1) * {skel_tokens}) AS BIGINT)"
        ).alias("overhead_ppm"),
    )


def _chat_template_oracle() -> str:
    import re as _re_mod

    skel_tokens = len(_re_mod.findall(r"\w+|[^\w\s]", CHAT_SKELETON))
    return rf"""
WITH per_doc AS (SELECT lang,
    CAST(len(regexp_extract_all(
      lower(substr(text, 1, {CHAT_PROMPT_CHARS})), '\w+|[^\w\s]'))
      AS BIGINT) AS prompt_toks,
    CAST(len(regexp_extract_all(
      lower(substr(text, {CHAT_PROMPT_CHARS + 1}, 1000000)), '\w+|[^\w\s]'))
      AS BIGINT) AS completion_toks
  FROM documents),
t AS (SELECT lang, prompt_toks, completion_toks,
    prompt_toks + completion_toks + {skel_tokens} AS total_toks
  FROM per_doc)
SELECT lang, CAST(count(*) AS BIGINT) AS n_examples,
  CAST(sum(prompt_toks + completion_toks) AS BIGINT) AS content_tokens,
  CAST(count(*) * {skel_tokens} AS BIGINT) AS overhead_tokens,
  CAST(sum(CASE WHEN total_toks > {CHAT_MAX_TOKENS} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_truncated,
  CAST(count(*) * {skel_tokens} * 1000000
    // (sum(prompt_toks + completion_toks) + count(*) * {skel_tokens})
    AS BIGINT) AS overhead_ppm
FROM t GROUP BY 1
"""


QUERIES["ns_chat_template"] = ns_chat_template
ORACLES["ns_chat_template"] = _chat_template_oracle()


# ------------------------------------------------------------------
# r9: tokenizer fertility (tokens-per-word / chars-per-token)
# ------------------------------------------------------------------


def ns_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the compression diagnostic
    read next to ns_oov_rate when fixing a tokenizer: how many
    (BPE-ish regex) tokens the tokenizer spends per whitespace word
    (fertility) and how many characters each token covers.  A lang
    with high fertility + low chars/token fragments into punctuation
    and byte-pieces and will train poorly at a fixed context length.

    Map-only until the per-lang rollup (one aggregate, map-side
    combinable — the same plan at 100 TB); ratios are integer
    micro-units via BIGINT div (rule 3); length() counts CHARACTERS
    in both engines (UTF-8 safe for the zh slice)."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.size(tokens()).cast("long").alias("ws_words"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_REGEX), 0))
        .cast("long")
        .alias("re_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws_words").cast("long").alias("ws_words"),
        F.sum("re_tokens").cast("long").alias("re_tokens"),
        F.expr("CAST(sum(re_tokens) * 1000000 div sum(ws_words) AS BIGINT)").alias(
            "fertility_ppm"
        ),
        # rule 8: a lang slice of all-punctuation-free empty docs would
        # zero Σre_tokens (ws_words can't — split() yields ≥1); nullif
        # keeps ANSI Spark and DuckDB agreeing on NULL instead of
        # erroring on one side.
        F.expr(
            "CAST(sum(n_chars) * 1000000 div nullif(sum(re_tokens), 0)"
            " AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )


QUERIES["ns_tokenizer_fertility"] = ns_tokenizer_fertility
ORACLES["ns_tokenizer_fertility"] = r"""
WITH per AS (SELECT lang,
    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS ws_words,
    CAST(len(regexp_extract_all(lower(text), '\w+|[^\w\s]')) AS BIGINT)
      AS re_tokens,
    CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(ws_words) AS BIGINT) AS ws_words,
  CAST(sum(re_tokens) AS BIGINT) AS re_tokens,
  CAST(sum(re_tokens) * 1000000 // sum(ws_words) AS BIGINT) AS fertility_ppm,
  CAST(sum(n_chars) * 1000000 // nullif(sum(re_tokens), 0) AS BIGINT)
    AS chars_per_token_micro
FROM per GROUP BY 1
"""


EPOCH_BUDGET_MULT = 4  # token budget = 4x the corpus (data-constrained run)
MAX_EPOCH_MILLI = 6000  # repetition cap: at most 6 epochs of any source


def ns_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epochs-under-token-budget scheduler — the data-constrained
    training planner (Muennighoff et al. '23): given a total token
    budget of ``EPOCH_BUDGET_MULT`` x the corpus and the alpha=0.5
    temperature mix from ns_domain_mix, derive per-source repetition
    counts.  target_tokens = weight * budget; epochs = target /
    available, capped at ``MAX_EPOCH_MILLI`` (repeating a source
    beyond ~4-6 epochs stops helping); effective_tokens re-derives
    the post-cap spend and shortfall_tokens is the unmet ask the
    next mix revision has to redistribute.

    Determinism: sqrt is IEEE-correctly-rounded (portable); the
    smoothed weight is floor-quantized to a micro BIGINT per row, so
    every sum is exact-integer in any order and every division is
    BIGINT ``div`` with nullif guards (rule 8).  Overflow bounds
    (ADVICE r10): the budget enters target arithmetic as ``budget div
    1000`` so weight_ppm x budget stays under 2^63 up to ~9.2e15
    budget tokens, but the BINDING bound is the share numerator
    ``sw * 1000000`` (sw ~= sqrt(n_tokens)*1e6), which caps any
    SINGLE source at ~8.5e13 tokens.  A 100 TB corpus is ~1e14 tokens
    TOTAL, so the per-source bound binds only when one source holds
    >~85% of such a corpus — and past either bound BOTH engines raise
    the same ANSI overflow error (an identical hard failure, never a
    silent mismatch).  Both bounds are locked by the near-bound
    strategy in tests/test_text.py.  Scale: one
    map-side-combinable rollup to |sources| rows; all window math
    runs on that bounded grid."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens()).cast("long").alias("nt"),
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    g = g.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("sw"),
    )
    g = g.select(
        "source",
        "n_docs",
        "n_tokens",
        "sw",
        F.sum("sw").over(w).alias("sw_total"),
        (F.lit(EPOCH_BUDGET_MULT) * F.sum("n_tokens").over(w)).alias("budget"),
    )
    g = g.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("sw * 1000000 div nullif(sw_total, 0)").alias("weight_ppm"),
        F.expr(
            "(sw * 1000000 div nullif(sw_total, 0)) * (budget div 1000)"
            " div 1000"
        ).alias("target_tokens"),
    )
    g = g.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight_ppm",
        "target_tokens",
        F.expr(
            f"least(target_tokens * 1000 div nullif(n_tokens, 0),"
            f" CAST({MAX_EPOCH_MILLI} AS BIGINT))"
        ).alias("epochs_milli"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight_ppm",
        "target_tokens",
        "epochs_milli",
        F.expr("epochs_milli * n_tokens div 1000").alias("effective_tokens"),
        F.expr(
            "target_tokens - epochs_milli * n_tokens div 1000"
        ).alias("shortfall_tokens"),
    )


QUERIES["ns_epoch_plan"] = ns_epoch_plan
ORACLES["ns_epoch_plan"] = f"""
WITH per AS (SELECT source,
    CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS nt
  FROM documents),
g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(nt) AS BIGINT) AS n_tokens FROM per GROUP BY 1),
s AS (SELECT source, n_docs, n_tokens,
    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS sw
  FROM g),
t AS (SELECT source, n_docs, n_tokens, sw,
    CAST(sum(sw) OVER () AS BIGINT) AS sw_total,
    {EPOCH_BUDGET_MULT} * CAST(sum(n_tokens) OVER () AS BIGINT) AS budget
  FROM s),
p AS (SELECT source, n_docs, n_tokens,
    sw * 1000000 // nullif(sw_total, 0) AS weight_ppm,
    (sw * 1000000 // nullif(sw_total, 0)) * (budget // 1000) // 1000
      AS target_tokens
  FROM t),
e AS (SELECT source, n_docs, n_tokens, weight_ppm, target_tokens,
    least(target_tokens * 1000 // nullif(n_tokens, 0),
          CAST({MAX_EPOCH_MILLI} AS BIGINT)) AS epochs_milli
  FROM p)
SELECT source, n_docs, n_tokens,
  CAST(weight_ppm AS BIGINT) AS weight_ppm,
  CAST(target_tokens AS BIGINT) AS target_tokens,
  CAST(epochs_milli AS BIGINT) AS epochs_milli,
  CAST(epochs_milli * n_tokens // 1000 AS BIGINT) AS effective_tokens,
  CAST(target_tokens - epochs_milli * n_tokens // 1000 AS BIGINT)
    AS shortfall_tokens
FROM e
"""


# ------------------------------------------------------------------
# r11: DPO/preference-pair assembly audit
# ------------------------------------------------------------------

PREF_POOL = 4  # candidate completions sampled per prompt
PREF_MARGIN_PPM = 50_000  # min reward gap (5%) for a usable pair


def _pref_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate-pool stage for the RLHF data-prep audits
    (ns_preference_pairs and ns_rejection_sample):
    one row per candidate completion with its synthetic prompt key,
    integer-ppm reward proxy, and regex token count.  Extracted so
    the reward definition lives in exactly one place per engine —
    `_PREF_PER_CTE` is the oracle-side twin."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    return d.select(
        "doc_id",
        "source",
        F.expr(f"doc_id div {PREF_POOL}").alias("prompt_id"),
        (
            _stop_hits(toks, STOPWORDS["en"]) * F.lit(1_000_000)
        ).alias("stop_micro"),
        F.size(toks).cast("long").alias("n_ws"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_REGEX), 0)
        )
        .cast("long")
        .alias("re_tokens"),
    ).select(
        "doc_id",
        "source",
        "prompt_id",
        F.expr("stop_micro div n_ws").alias("reward_ppm"),
        "re_tokens",
    )


# Oracle-side twin of _pref_candidates (composable as a CTE body).
_PREF_PER_CTE = rf"""per AS (SELECT doc_id, source, doc_id // {PREF_POOL} AS prompt_id,
    {_sql_stop_hits(STOPWORDS["en"])} * 1000000
      // CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
      AS reward_ppm,
    CAST(len(regexp_extract_all(lower(text), '\w+|[^\w\s]')) AS BIGINT)
      AS re_tokens
  FROM documents)"""


def ns_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair (DPO/RLHF) assembly audit — the data-prep pass
    that turns per-prompt candidate pools into (chosen, rejected)
    pairs and reports the biases reward-model training inherits.
    Documents are pooled ``PREF_POOL`` per synthetic prompt
    (``doc_id div PREF_POOL`` — the N-samples-per-prompt layout);
    the reward proxy is stopword density in ppm (content-derived,
    integer); chosen = argmax(reward), rejected = argmin(reward),
    and a pair is USABLE only when the reward gap clears
    ``PREF_MARGIN_PPM`` (the margin filter that drops noise-level
    preferences — all-tie pools degenerate to chosen == rejected and
    are correctly unusable).  Per winning source: candidate-group and
    usable-pair counts, cross-source-pair count (pairing that mixes
    provenances), chosen-longer rate in ppm (the length bias every
    preference dataset must be audited for), mean reward gap, and the
    signed token-length delta sum.

    Determinism: reward is BIGINT ppm (ws-split yields >= 1 token so
    the div is safe); both row_numbers carry the unique doc_id
    tie-break (rule 5); the only nullable divisions guard on
    sum(usable) via nullif (rule 8); sum_len_delta is emitted as a
    raw signed BIGINT sum — never divided, because Spark ``div``
    truncates toward zero while DuckDB ``//`` floors, and they
    diverge on negatives (every other div here has a provably
    non-negative numerator).

    Scale: one corpus scan; both windows AND the pair groupBy share
    hashpartitioning(prompt_id) (filter/project preserve the child
    partitioning — the dedup_url_quota one-exchange pattern), pools
    are <= PREF_POOL rows so there is no window skew; the final
    per-source rollup is a second, |sources|-sized exchange.  Same
    plan at 100 TB."""
    per = _pref_candidates(spark, sf_dir)
    w_best = Window.partitionBy("prompt_id").orderBy(
        F.col("reward_ppm").desc(), F.col("doc_id").asc()
    )
    w_worst = Window.partitionBy("prompt_id").orderBy(
        F.col("reward_ppm").asc(), F.col("doc_id").asc()
    )
    ranked = per.select(
        "*",
        F.row_number().over(w_best).alias("rn_best"),
        F.row_number().over(w_worst).alias("rn_worst"),
    )
    pairs = (
        ranked.groupBy("prompt_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand"),
            F.max(F.when(F.col("rn_best") == 1, F.col("source"))).alias(
                "chosen_source"
            ),
            F.max(F.when(F.col("rn_best") == 1, F.col("reward_ppm"))).alias(
                "c_reward"
            ),
            F.max(F.when(F.col("rn_best") == 1, F.col("re_tokens"))).alias(
                "c_toks"
            ),
            F.max(F.when(F.col("rn_worst") == 1, F.col("source"))).alias(
                "rejected_source"
            ),
            F.max(F.when(F.col("rn_worst") == 1, F.col("reward_ppm"))).alias(
                "r_reward"
            ),
            F.max(F.when(F.col("rn_worst") == 1, F.col("re_tokens"))).alias(
                "r_toks"
            ),
        )
        .filter(F.col("n_cand") >= 2)
        .select(
            "*",
            (F.col("c_reward") - F.col("r_reward")).alias("gap"),
            F.when(
                F.col("c_reward") - F.col("r_reward") >= PREF_MARGIN_PPM, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("usable"),
        )
    )
    return pairs.groupBy(F.col("chosen_source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("usable").cast("long").alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("usable") == 1)
                & (F.col("chosen_source") != F.col("rejected_source")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("cross_source_pairs"),
        F.expr(
            "CAST(sum(CASE WHEN usable = 1 AND c_toks > r_toks THEN 1"
            " ELSE 0 END) * 1000000 div nullif(sum(usable), 0) AS BIGINT)"
        ).alias("chosen_longer_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN usable = 1 THEN gap ELSE 0 END)"
            " div nullif(sum(usable), 0) AS BIGINT)"
        ).alias("mean_gap_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN usable = 1 THEN c_toks - r_toks"
            " ELSE 0 END) AS BIGINT)"
        ).alias("sum_len_delta"),
    )


QUERIES["ns_preference_pairs"] = ns_preference_pairs
ORACLES["ns_preference_pairs"] = rf"""
WITH {_PREF_PER_CTE},
ranked AS (SELECT *,
    row_number() OVER (PARTITION BY prompt_id
                       ORDER BY reward_ppm DESC, doc_id ASC) AS rn_best,
    row_number() OVER (PARTITION BY prompt_id
                       ORDER BY reward_ppm ASC, doc_id ASC) AS rn_worst
  FROM per),
pairs AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_cand,
    max(CASE WHEN rn_best = 1 THEN source END) AS chosen_source,
    max(CASE WHEN rn_best = 1 THEN reward_ppm END) AS c_reward,
    max(CASE WHEN rn_best = 1 THEN re_tokens END) AS c_toks,
    max(CASE WHEN rn_worst = 1 THEN source END) AS rejected_source,
    max(CASE WHEN rn_worst = 1 THEN reward_ppm END) AS r_reward,
    max(CASE WHEN rn_worst = 1 THEN re_tokens END) AS r_toks
  FROM ranked GROUP BY 1),
usable AS (SELECT *, c_reward - r_reward AS gap,
    CASE WHEN c_reward - r_reward >= {PREF_MARGIN_PPM} THEN 1 ELSE 0 END
      AS usable
  FROM pairs WHERE n_cand >= 2)
SELECT chosen_source AS source,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(usable) AS BIGINT) AS n_pairs,
  CAST(sum(CASE WHEN usable = 1 AND chosen_source <> rejected_source
           THEN 1 ELSE 0 END) AS BIGINT) AS cross_source_pairs,
  CAST(sum(CASE WHEN usable = 1 AND c_toks > r_toks THEN 1 ELSE 0 END)
       * 1000000 // nullif(sum(usable), 0) AS BIGINT) AS chosen_longer_ppm,
  CAST(sum(CASE WHEN usable = 1 THEN gap ELSE 0 END)
       // nullif(sum(usable), 0) AS BIGINT) AS mean_gap_ppm,
  CAST(sum(CASE WHEN usable = 1 THEN c_toks - r_toks ELSE 0 END)
       AS BIGINT) AS sum_len_delta
FROM usable GROUP BY 1
"""


# ---------------------------------------------------------------------------
# ns_rejection_sample — best-of-N rollout selection audit (RLHF)
# ---------------------------------------------------------------------------

REJ_THRESHOLD_PPM = 100_000  # min best-of-pool reward to accept a prompt


def ns_rejection_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-N rejection-sampling audit — the other half of the
    RLHF data-prep story next to ns_preference_pairs: instead of
    pairing argmax/argmin, each prompt's pool keeps ONLY its best
    completion, and the whole prompt is rejected when even the best
    clears no quality bar (``REJ_THRESHOLD_PPM``).  Per source of the
    winning completion: prompts seen, prompts accepted, acceptance
    rate (ppm), tokens actually kept for training, mean accepted
    reward, and the mean best-vs-pool-mean advantage (how much
    selection is lifting quality over sampling).

    Determinism: reward is the BIGINT stopword-density ppm shared
    with ns_preference_pairs; the best row_number carries the unique
    doc_id tie-break (rule 5); pool means floor-divide positive
    BIGINTs (portable); the only nullable division guards on
    sum(accepted) via nullif (rule 8).

    Scale: one corpus scan; the window and the prompt groupBy share
    hashpartitioning(prompt_id) (pools are <= PREF_POOL rows, no
    skew); the per-source rollup is a |sources|-sized second
    exchange.  Same plan at 100 TB.  The reward stage is shared
    VERBATIM with ns_preference_pairs (text._pref_candidates /
    _PREF_PER_CTE) — one definition per engine, no drift."""
    per = _pref_candidates(spark, sf_dir)
    w_best = Window.partitionBy("prompt_id").orderBy(
        F.col("reward_ppm").desc(), F.col("doc_id").asc()
    )
    ranked = per.select("*", F.row_number().over(w_best).alias("rn_best"))
    pools = (
        ranked.groupBy("prompt_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand"),
            F.sum("reward_ppm").cast("long").alias("pool_reward"),
            F.max(F.when(F.col("rn_best") == 1, F.col("source"))).alias(
                "best_source"
            ),
            F.max(F.when(F.col("rn_best") == 1, F.col("reward_ppm"))).alias(
                "best_reward"
            ),
            F.max(F.when(F.col("rn_best") == 1, F.col("re_tokens"))).alias(
                "best_toks"
            ),
        )
        .select(
            "*",
            F.when(F.col("best_reward") >= REJ_THRESHOLD_PPM, 1)
            .otherwise(0)
            .cast("long")
            .alias("accepted"),
            # best >= floor(pool mean), so the advantage is >= 0 and
            # the floor-div is the portable positive case.
            (
                F.col("best_reward") - F.expr("pool_reward div n_cand")
            ).alias("advantage_ppm"),
        )
    )
    return pools.groupBy(F.col("best_source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_prompts"),
        F.sum("accepted").cast("long").alias("n_accepted"),
        F.expr(
            "CAST(sum(accepted) * 1000000 div count(*) AS BIGINT)"
        ).alias("acceptance_ppm"),
        F.sum(
            F.when(F.col("accepted") == 1, F.col("best_toks")).otherwise(0)
        )
        .cast("long")
        .alias("kept_tokens"),
        F.expr(
            "CAST(sum(CASE WHEN accepted = 1 THEN best_reward ELSE 0 END)"
            " div nullif(sum(accepted), 0) AS BIGINT)"
        ).alias("mean_accepted_reward_ppm"),
        F.expr(
            "CAST(sum(advantage_ppm) div count(*) AS BIGINT)"
        ).alias("mean_advantage_ppm"),
    )


_REJECTION_ORACLE = rf"""
WITH {_PREF_PER_CTE},
ranked AS (SELECT *,
    row_number() OVER (PARTITION BY prompt_id
                       ORDER BY reward_ppm DESC, doc_id ASC) AS rn_best
  FROM per),
pools AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_cand,
    CAST(sum(reward_ppm) AS BIGINT) AS pool_reward,
    max(CASE WHEN rn_best = 1 THEN source END) AS best_source,
    max(CASE WHEN rn_best = 1 THEN reward_ppm END) AS best_reward,
    max(CASE WHEN rn_best = 1 THEN re_tokens END) AS best_toks
  FROM ranked GROUP BY 1),
flagged AS (SELECT *,
    CASE WHEN best_reward >= {REJ_THRESHOLD_PPM} THEN 1 ELSE 0 END
      AS accepted,
    best_reward - pool_reward // n_cand AS advantage_ppm
  FROM pools)
SELECT best_source AS source,
  CAST(count(*) AS BIGINT) AS n_prompts,
  CAST(sum(accepted) AS BIGINT) AS n_accepted,
  CAST(sum(accepted) * 1000000 // count(*) AS BIGINT) AS acceptance_ppm,
  CAST(sum(CASE WHEN accepted = 1 THEN best_toks ELSE 0 END) AS BIGINT)
    AS kept_tokens,
  CAST(sum(CASE WHEN accepted = 1 THEN best_reward ELSE 0 END)
       // nullif(sum(accepted), 0) AS BIGINT) AS mean_accepted_reward_ppm,
  CAST(sum(advantage_ppm) // count(*) AS BIGINT) AS mean_advantage_ppm
FROM flagged GROUP BY 1
"""


QUERIES["ns_rejection_sample"] = ns_rejection_sample
ORACLES["ns_rejection_sample"] = _REJECTION_ORACLE
