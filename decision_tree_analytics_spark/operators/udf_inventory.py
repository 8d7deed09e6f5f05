"""Arrow-batched Python UDF surface — the two shapes that matter.

Python is the engine's slow path by policy (everything else is JVM
expressions), but two batch shapes are genuinely needed in LLM-data
pipelines and are exercised here with oracle-checked queries:

* ``udf_grouped_zscore`` — ``applyInPandas`` (grouped map): whole
  group as one pandas frame, per-group statistics computed in
  vectorized numpy.  Shape of per-group normalization / feature
  scaling.  One shuffle on the group key; each group must fit in one
  executor's memory — groups here are event types (bounded), and the
  scale rule is: group on bounded-cardinality keys, never on raw ids.
* ``udf_frame_sample`` — ``mapInPandas`` fan-out: each input row emits
  k output rows (frame/byte-offset sampling of a binary payload), the
  shape of media frame extraction.  Stateless, pipelined, no shuffle.

Both compute arithmetic DuckDB can replicate exactly (sample stddev,
integer offsets), so the Python path itself sits under the
correctness gate.  ``udf_token_spans`` covers the Spark 4
arrow-optimized Python UDTF lane (one input row, N output rows),
the documented per-row-eval exception to the scale rules.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from decision_tree_analytics_spark.operators._parts import arrow_parts, spread
from decision_tree_analytics_spark.operators._round import round6
from decision_tree_analytics_spark.operators.dedup import tokens
from decision_tree_analytics_spark.operators.multimodal import with_binary_payload
from decision_tree_analytics_spark.sources.tables import load_table

_ZSCORE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("zscore", DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    v = pdf["value"]
    mu = v.mean()
    sd = v.std(ddof=1)  # sample stddev == Spark stddev / DuckDB stddev_samp
    z = (v - mu) / sd
    # Single-row group (sd NaN) or constant group (sd 0) must surface
    # as SQL NULL, matching NULLIF(stddev_samp(...), 0) — pandas NaN
    # would cross Arrow as a float NaN, not a null.
    z = z.astype("Float64").mask(~np.isfinite(z))
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "event_type": pdf["event_type"],
            "zscore": z,
        }
    )


def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(_zscore_group, _ZSCORE_SCHEMA)


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("byte_offset", LongType()),
        StructField("frame_len", LongType()),
    ]
)

FRAME_STRIDE = 64
MAX_FRAMES = 4


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            k = min(MAX_FRAMES, max(1, n // FRAME_STRIDE))
            for f in range(k):
                off = f * FRAME_STRIDE
                rows.append((int(doc_id), f, off, min(FRAME_STRIDE, n - off)))
        yield pd.DataFrame(rows, columns=["doc_id", "frame_no", "byte_offset", "frame_len"])


def udf_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", "payload").mapInPandas(_sample_frames, _FRAME_SCHEMA)


# ------------------------------------------------------------------
# Subword (BPE-style) tokenization — deterministic single-round
# pair-merge.  LLM pipelines tokenize subword, not whitespace; a real
# learned-merge BPE is a lookup table plus exactly this merge loop, so
# the Spark-side shape (Arrow batches through mapInPandas, per-word
# Python merge, zero shuffle) is the production shape.  The merge rule
# here is content-derived (md5 parity of the character pair) instead
# of a learned vocabulary, which keeps the oracle SQL-expressible:
# within each word, the character pair at even offset 2b merges into
# one token iff the first hex digit of md5(pair) is even; unmerged
# blocks emit single-character tokens.

_MERGE_HEX = frozenset("02468ace")


@functools.lru_cache(maxsize=1 << 16)
def _pair_merges(pair: str) -> bool:
    """Does this 2-char pair merge?  The decision depends only on the
    pair, and a corpus has few distinct pairs (≤ alphabet²) — caching
    removes an md5 call per pair occurrence from the hot loop."""
    import hashlib

    return hashlib.md5(pair.encode("utf-8")).hexdigest()[0] in _MERGE_HEX


def subword_tokens(word: str) -> list[str]:
    """Tokenize one word by block-aligned deterministic pair-merge."""
    toks: list[str] = []
    for i in range(0, len(word), 2):
        pair = word[i : i + 2]
        if len(pair) == 2 and _pair_merges(pair):
            toks.append(pair)
        else:
            toks.extend(pair)  # one or two single-char tokens
    return toks


@functools.lru_cache(maxsize=1 << 20)
def _subword_count(word: str) -> int:
    """len(subword_tokens(word)) without building the list.  Word-
    level memoization: natural-language vocabulary is Zipfian, so the
    per-executor cache absorbs nearly every lookup; maxsize bounds the
    memory on adversarial (all-unique) corpora."""
    n = 0
    for i in range(0, len(word), 2):
        if i + 2 <= len(word) and _pair_merges(word[i : i + 2]):
            n += 1
        else:
            n += len(word) - i if i + 2 > len(word) else 2
    return n


_SUBWORD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_words", LongType()),
        StructField("n_subwords", LongType()),
    ]
)


def _subword_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        norm = pdf["text"].str.lower().str.strip(" ")
        n_words, n_subwords = [], []
        for t in norm:
            words = t.split(" ")
            n_words.append(len(words))
            n_subwords.append(sum(map(_subword_count, words)))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "n_words": n_words, "n_subwords": n_subwords}
        )


def ns_text_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word and subword token counts via the pair-merge
    tokenizer.  Arrow-batched, stateless, no shuffle — the narrow-map
    shape of corpus tokenization at any scale."""
    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(arrow_parts(sf_dir, "documents"), "doc_id")
    return d.select("doc_id", "text").mapInPandas(_subword_batch, _SUBWORD_SCHEMA)


# ------------------------------------------------------------------
# Per-user sequence features — the secondary-sort consumer pattern.
# Sessionization, funnel mining, and sequence featurization all need
# "each user's events, in time order, in one place"; in Spark that is
# one shuffle on the group key + an in-group sort, here expressed as
# ``applyInPandas`` (the group arrives as one frame, the sort is a
# vectorized in-memory argsort).  Scale rule: the GROUP SIZE must be
# bounded (events-per-user is, at any corpus scale), while the group
# COUNT may grow without limit — the opposite constraint from
# udf_grouped_zscore's bounded-cardinality note, and the reason this
# shape scales to billions of users.

_GAP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("mean_gap_us", DoubleType()),
        StructField("max_gap_us", LongType()),
        StructField("min_gap_us", LongType()),
    ]
)


def _gap_group(pdf: pd.DataFrame) -> pd.DataFrame:
    import math

    pdf = pdf.sort_values(["ts_us", "event_id"])  # unique tie-break: event_id
    ts = pdf["ts_us"].to_numpy()
    n = len(ts)
    if n > 1:
        gaps = np.diff(ts)
        # mean gap telescopes to span/(n-1): one exact int subtraction
        # + one double division, identical in DuckDB.
        mean_gap = math.floor((ts[-1] - ts[0]) / (n - 1) * 1e6 + 0.5) / 1e6
        mx, mn = int(gaps.max()), int(gaps.min())
    else:
        mean_gap = mx = mn = None
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_events": [n],
            "mean_gap_us": [mean_gap],
            "max_gap_us": [mx],
            "min_gap_us": [mn],
        }
    )


def udf_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics per user over the time-ordered event
    sequence (count, mean/max/min gap in µs)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("ts_us")
    )
    return ev.groupBy("user_id").applyInPandas(_gap_group, _GAP_SCHEMA)


# ------------------------------------------------------------------
# True secondary sort — the OTHER way to get "each user's events, in
# time order, in one place".  ``applyInPandas`` (udf_user_gap_stats)
# pays one Python call per group and materializes each group as a
# frame — fine for rich per-group logic, wasteful for millions of
# tiny groups.  The secondary-sort lane instead shuffles ONCE on the
# group key (`repartition`), sorts WITHIN each partition on
# (key, time) — a spillable external sort, never a global one — and
# streams whole sorted partitions through ``mapInPandas``; groups
# arrive contiguously, and an explicit carry handles groups that
# straddle Arrow batch boundaries.  This is the classic MapReduce
# secondary-sort contract expressed in Spark's Arrow lane.

_SEQ_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_increases", LongType()),
    ]
)


def _seq_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # carry = (user_id, n_events, n_increases, last_value) for the
    # group still open at the previous batch boundary.
    carry: tuple[int, int, int, float] | None = None
    for pdf in batches:
        done_uid: list[int] = []
        done_n: list[int] = []
        done_inc: list[int] = []
        for uid, g in pdf.groupby("user_id", sort=False):
            vals = g["value"].to_numpy()
            n = len(vals)
            inc = int((vals[1:] > vals[:-1]).sum())
            if carry is not None:
                if carry[0] == uid:
                    n += carry[1]
                    inc += carry[2] + int(vals[0] > carry[3])
                else:
                    done_uid.append(carry[0])
                    done_n.append(carry[1])
                    done_inc.append(carry[2])
            carry = (int(uid), n, inc, float(vals[-1]))
        if done_uid:
            yield pd.DataFrame(
                {
                    "user_id": done_uid,
                    "n_events": done_n,
                    "n_increases": done_inc,
                }
            )
    if carry is not None:
        yield pd.DataFrame(
            {
                "user_id": [carry[0]],
                "n_events": [carry[1]],
                "n_increases": [carry[2]],
            }
        )


def udf_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value-increase counts over the time-ordered sequence,
    via repartition + sortWithinPartitions + a streaming mapInPandas
    consumer (see module note on the secondary-sort contract)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us"), "event_id", "value"
    )
    part = ev.repartition(
        arrow_parts(sf_dir, "events"), "user_id"
    ).sortWithinPartitions("user_id", "ts_us", "event_id")
    return part.mapInPandas(_seq_batches, _SEQ_SCHEMA)


# ------------------------------------------------------------------
# Arrow batch-inference lane — the shape of scoring a corpus with a
# trained model (ONNX head, logistic probe, distillation filter).  The
# model here is a fixed linear probe over the embedding so the oracle
# stays SQL-expressible; a real model swaps `_INFER_W @ batch` for
# `session.run(batch)` and nothing else changes.  Weights live in the
# task closure (at fleet scale: a broadcast variable or an
# executor-local model file) — the input table never carries them.
# Stateless mapInPandas: zero shuffle, one matmul per Arrow batch.

INFER_DIM = 64
_INFER_W = np.array([((k * 37) % 19 - 9) / 19.0 for k in range(INFER_DIM)])

_INFER_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("score", DoubleType()),
        StructField("pred_label", LongType()),
    ]
)


def _infer_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        score = m @ _INFER_W
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "score": np.floor(score * 1e6 + 0.5) / 1e6,
                "pred_label": (score > 0.0).astype(np.int64),
            }
        )


def udf_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-probe batch inference over the embedding corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    e = spread(e, "vec_id")
    return e.select("vec_id", "embedding").mapInPandas(_infer_batches, _INFER_SCHEMA)


# ------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidate pruning + exact verification.
# The final answer is EXACT (hence fully oracled); the sketch's job
# is to shrink the shuffle.  At 100 TB a naive token groupBy shuffles
# every distinct token; MG summaries cap per-partition state at
# HH_CAPACITY entries and emit ≤ capacity candidates per partition,
# so the exact-count pass groups a semi-joined sliver of the stream.
# Guarantee: an MG summary of capacity c undercounts any item by at
# most n_p/(c+1), so an item with partition share > n_p/HH_K survives
# whenever c ≥ HH_K; capacity 512 > 200 leaves margin.  Every global
# heavy hitter (count > N/HH_K) is heavy in ≥1 partition, so the
# candidate union has no false negatives — false positives are
# killed by the exact pass.

HH_K = 200  # report tokens with count > N / HH_K
HH_CAPACITY = 512

_HH_CAND_SCHEMA = StructType([StructField("tok", StringType())])


def _mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    counters: dict[str, int] = {}
    for pdf in batches:
        # vectorized per-batch count, then merge distincts into the
        # summary — the per-row MG loop never touches Python.
        for tok, c in pdf["tok"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(c)
        if len(counters) > HH_CAPACITY:
            # batched MG decrement: subtract the (capacity+1)-th
            # largest count from everything; drop the non-positive.
            m = sorted(counters.values(), reverse=True)[HH_CAPACITY]
            counters = {t: c - m for t, c in counters.items() if c > m}
    yield pd.DataFrame({"tok": list(counters.keys())})


def udf_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens (count > N/200) over the corpus token stream —
    Misra-Gries per-partition candidates, then an exact count of the
    candidates only.  See the module comment block for the sketch's
    no-false-negative argument; the exact pass makes the result
    engine-deterministic, so the oracle is a plain GROUP BY/HAVING."""
    from decision_tree_analytics_spark.operators._cache import tether_cache

    d = load_table(spark, sf_dir, "documents")
    d = spread(d, "doc_id")
    toks = d.select(F.explode(tokens()).alias("tok")).persist()
    cands = toks.mapInPandas(_mg_partition, _HH_CAND_SCHEMA).distinct()
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    result = (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * HH_K > F.col("n"))
        .select(
            "tok",
            "cnt",
            round6(F.col("cnt") / F.col("n")).alias("frac"),
        )
    )
    return tether_cache(result, toks)


QUERIES = {
    "udf_grouped_zscore": udf_grouped_zscore,
    "udf_frame_sample": udf_frame_sample,
    "ns_text_subword": ns_text_subword,
    "udf_user_gap_stats": udf_user_gap_stats,
    "udf_secondary_sort": udf_secondary_sort,
    "udf_batch_inference": udf_batch_inference,
    "udf_heavy_hitters": udf_heavy_hitters,
}

ORACLES = {
    "udf_heavy_hitters": (
        "WITH t AS (SELECT unnest(string_split(lower(trim(text)), ' '))"
        "   AS tok FROM documents),"
        " tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)"
        " SELECT tok, CAST(count(*) AS BIGINT) AS cnt,"
        " floor(count(*) / (SELECT n FROM tot) * 1e6 + 0.5) / 1e6 AS frac"
        " FROM t GROUP BY tok"
        f" HAVING count(*) * {HH_K} > (SELECT n FROM tot)"
    ),
    "udf_grouped_zscore": (
        "SELECT event_id, event_type,"
        " (value - avg(value) OVER (PARTITION BY event_type))"
        "   / NULLIF(stddev_samp(value) OVER (PARTITION BY event_type), 0) AS zscore"
        " FROM events"
    ),
    "udf_frame_sample": (
        "WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),"
        " fr AS (SELECT doc_id, n, unnest(range(least("
        f"   {MAX_FRAMES}, greatest(n // {FRAME_STRIDE}, 1)))) AS f FROM d)"
        " SELECT doc_id, CAST(f AS BIGINT) AS frame_no,"
        f" CAST(f * {FRAME_STRIDE} AS BIGINT) AS byte_offset,"
        f" CAST(least({FRAME_STRIDE}, n - f * {FRAME_STRIDE}) AS BIGINT) AS frame_len"
        " FROM fr"
    ),
    # The subword count is SQL-expressible: per word of length L,
    # tokens = L - (# even-offset pairs whose md5 first hex digit is
    # even); the UDF's actual token lists are property-tested against
    # a pure-Python reference in tests/test_text_python_reference.py.
    "ns_text_subword": (
        "WITH w AS (SELECT doc_id,"
        "   string_split(lower(trim(text)), ' ') AS words FROM documents)"
        " SELECT doc_id,"
        " CAST(len(words) AS BIGINT) AS n_words,"
        " CAST(list_sum(list_transform(words, w ->"
        "   length(w) - coalesce(list_sum(list_transform(range(length(w) // 2),"
        "     b -> CASE WHEN strpos('02468ace',"
        "       substr(md5(substr(w, 2 * b + 1, 2)), 1, 1)) > 0"
        "       THEN 1 ELSE 0 END)), 0)"
        " )) AS BIGINT) AS n_subwords"
        " FROM w"
    ),
    "udf_secondary_sort": (
        "WITH s AS (SELECT user_id, value, lag(value) OVER ("
        "   PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pv"
        "   FROM events)"
        " SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,"
        " CAST(sum(CASE WHEN pv IS NOT NULL AND value > pv"
        "   THEN 1 ELSE 0 END) AS BIGINT) AS n_increases"
        " FROM s GROUP BY user_id"
    ),
    "udf_user_gap_stats": (
        "WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),"
        " g AS (SELECT user_id, ts_us, ts_us - lag(ts_us) OVER ("
        "   PARTITION BY user_id ORDER BY ts_us, event_id) AS gap FROM t)"
        " SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,"
        " CASE WHEN count(*) > 1 THEN"
        "   floor((max(ts_us) - min(ts_us)) / (count(*) - 1.0) * 1e6 + 0.5) / 1e6"
        " END AS mean_gap_us,"
        " CAST(max(gap) AS BIGINT) AS max_gap_us,"
        " CAST(min(gap) AS BIGINT) AS min_gap_us"
        " FROM g GROUP BY user_id"
    ),
    "udf_batch_inference": (
        "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,"
        "   unnest(embedding)::DOUBLE AS x FROM embeddings),"
        " w AS (SELECT generate_subscripts(l, 1) AS i, unnest(l) AS wt"
        f"   FROM (SELECT {_INFER_W.tolist()} AS l)),"
        " s AS (SELECT vec_id, sum(x * wt) AS score"
        "   FROM e JOIN w USING (i) GROUP BY vec_id)"
        " SELECT vec_id, floor(score * 1e6 + 0.5) / 1e6 AS score,"
        " CAST(CASE WHEN score > 0.0 THEN 1 ELSE 0 END AS BIGINT) AS pred_label"
        " FROM s"
    ),
}


HOLT_ALPHA = 0.5  # level smoothing
HOLT_BETA = 0.3  # trend smoothing
_US_PER_DAY = 86_400_000_000

_HOLT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("day", LongType()),
        StructField("x", DoubleType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
    ]
)


def _holt_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Holt double-exponential recurrence, executed strictly
    left-to-right — the same IEEE sequence the recursive-CTE oracle
    replays (stream_cusum pattern): inputs are the 1e-6-rounded daily
    means, constants are written as the SAME expressions
    (``1 - HOLT_BETA`` etc.) on both sides, outputs round 1e-6."""
    pdf = pdf.sort_values("day").reset_index(drop=True)
    xs = [float(v) for v in pdf["x"]]
    level, trend = xs[0], 0.0
    levels, trends = [level], [trend]
    for x in xs[1:]:
        new_level = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (level + trend)
        trend = HOLT_BETA * (new_level - level) + (1 - HOLT_BETA) * trend
        level = new_level
        levels.append(level)
        trends.append(trend)
    r6 = lambda a: np.floor(np.asarray(a) * 1e6 + 0.5) / 1e6  # noqa: E731
    return pd.DataFrame(
        {
            "event_type": pdf["event_type"],
            "day": pdf["day"],
            "x": pdf["x"],
            "level": r6(levels),
            "trend": r6(trends),
        }
    )


def udf_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Holt double-exponential smoothing over the daily mean
    series — the batch forecasting recurrence (level + trend) that no
    window function expresses, run through the Arrow grouped-map lane
    and hash-verified against a recursive-CTE replay.

    Scale: the corpus reduces to |types|×|days| rows in one mergeable
    aggregate BEFORE any Python; the recurrence then touches only the
    bounded daily grid (a year is 365 rows per group at any corpus
    size), one Arrow group per event type.  Days with no events are
    skipped (the recurrence indexes the observed series, standard for
    irregular telemetry; compose rel_gap_fill upstream to densify)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr(f"(ts div 1000) div {_US_PER_DAY}").alias("day"),
            "value",
        )
    )
    daily = ev.groupBy("event_type", "day").agg(
        round6(F.avg("value")).alias("x")
    )
    return daily.groupBy("event_type").applyInPandas(_holt_group, _HOLT_SCHEMA)


QUERIES["udf_holt_smooth"] = udf_holt_smooth
ORACLES["udf_holt_smooth"] = f"""
WITH RECURSIVE d0 AS (SELECT event_type,
    epoch_us(ts) // {_US_PER_DAY} AS day,
    floor(avg(value) * 1e6 + 0.5) / 1e6 AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
seq AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day)
    AS rn FROM d0),
rec(event_type, rn, day, x, level, trend) AS (
  SELECT event_type, rn, day, x, x, CAST(0.0 AS DOUBLE) FROM seq
    WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.rn, s.day, s.x,
    {HOLT_ALPHA} * s.x + (1 - {HOLT_ALPHA}) * (r.level + r.trend),
    {HOLT_BETA} * (({HOLT_ALPHA} * s.x + (1 - {HOLT_ALPHA})
        * (r.level + r.trend)) - r.level)
      + (1 - {HOLT_BETA}) * r.trend
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1)
SELECT event_type, CAST(day AS BIGINT) AS day, x,
  floor(level * 1e6 + 0.5) / 1e6 AS level,
  floor(trend * 1e6 + 0.5) / 1e6 AS trend
FROM rec
"""


DTW_DAYS = 8  # profile length: trailing days compared per user
_DTW_INF = 1e18  # missing-neighbor sentinel (identical in both engines)

_DTW_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("dtw", DoubleType()),
        StructField("n_active_days", LongType()),
    ]
)


def _r6(v: float) -> float:
    import math

    return math.floor(v * 1e6 + 0.5) / 1e6


def _dtw_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Full DTW DP over the (DTW_DAYS × DTW_DAYS) grid for one user.

    Identical IEEE sequence to the oracle's unrolled-diagonal CTEs:
    costs are |s−r| rounded 1e-6 BEFORE the DP, each cell is
    cost + min of the three (coalesced-to-sentinel) neighbors, and
    only the final distance is re-rounded."""
    g = pdf.sort_values("i")
    s = [float(v) for v in g["s"]]
    r = [float(v) for v in g["r"]]
    n = len(s)
    d = [[0.0] * n for _ in range(n)]
    for i in range(n):
        for j in range(n):
            cost = _r6(abs(s[i] - r[j]))
            if i == 0 and j == 0:
                d[i][j] = cost
            else:
                a = d[i - 1][j] if i > 0 else _DTW_INF
                b = d[i][j - 1] if j > 0 else _DTW_INF
                p = d[i - 1][j - 1] if i > 0 and j > 0 else _DTW_INF
                d[i][j] = cost + min(a, b, p)
    return pd.DataFrame(
        {
            "user_id": [int(g["user_id"].iloc[0])],
            "dtw": [_r6(d[n - 1][n - 1])],
            "n_active_days": [int(sum(1 for v in s if v != 0.0))],
        }
    )


def udf_dtw_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between each user's trailing
    8-day activity profile and the corpus-average profile — the
    elastic shape distance no window function expresses (a user whose
    spending pattern matches the corpus shape but shifted a day
    scores near zero where Euclidean distance explodes), and the
    standard behavioral-segmentation / anomaly feature for activity
    series.

    Scale shape: the corpus reduces to |users| × 8 gap-filled rows in
    mergeable aggregates BEFORE any Python; the reference profile is
    an 8-row broadcast; the DP touches only the fixed 8×8 grid per
    user through one ``applyInPandas`` group (one user-keyed
    shuffle).  Fully oracled despite being a 2-D recurrence: the 15
    anti-diagonals unroll into chained CTEs (each cell = rounded cost
    + least of its coalesced neighbors), so DuckDB replays the exact
    IEEE sequence the Python DP executes — the 2-D generalization of
    udf_holt_smooth's recursive-CTE replay."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.expr(f"(ts div 1000) div {_US_PER_DAY}").alias("day"),
            "value",
        )
    )
    mx = ev.agg(F.max("day").alias("mx"))
    grid = (
        spark.range(DTW_DAYS)
        .select(F.col("id").cast("long").alias("i"))
        .crossJoin(F.broadcast(mx))
        .select("i", (F.col("mx") - (DTW_DAYS - 1) + F.col("i")).alias("day"))
    )
    users = ev.select("user_id").distinct()
    nu = users.agg(F.count(F.lit(1)).alias("nu"))
    daily_u = ev.groupBy("user_id", "day").agg(F.sum("value").alias("sv"))
    s = (
        users.crossJoin(F.broadcast(grid))
        .join(daily_u, ["user_id", "day"], "left")
        .select(
            "user_id", "i", round6(F.coalesce("sv", F.lit(0.0))).alias("s")
        )
    )
    daily_g = ev.groupBy("day").agg(F.sum("value").alias("gv"))
    r = (
        grid.join(daily_g, "day", "left")
        .crossJoin(F.broadcast(nu))
        .select(
            F.col("i").alias("j"),
            round6(
                F.coalesce("gv", F.lit(0.0))
                / F.nullif(F.col("nu"), F.lit(0)).cast("double")
            ).alias("r"),
        )
    )
    sr = s.join(F.broadcast(r), s.i == r.j).select("user_id", "i", "s", "r")
    return sr.groupBy("user_id").applyInPandas(_dtw_group, _DTW_SCHEMA)


def _dtw_oracle() -> str:
    n = DTW_DAYS
    parts = [
        f"WITH ev AS (SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day,"
        " value FROM events WHERE value IS NOT NULL),",
        "mx AS (SELECT max(day) AS mx FROM ev),",
        f"grid AS (SELECT i, mx - {n - 1} + i AS day"
        f" FROM range({n}) t(i), mx),",
        "users AS (SELECT DISTINCT user_id FROM ev),",
        "nu AS (SELECT count(*) AS nu FROM users),",
        "daily_u AS (SELECT user_id, day, sum(value) AS sv"
        " FROM ev GROUP BY 1, 2),",
        "s AS (SELECT u.user_id, g.i,"
        "   floor(coalesce(d.sv, 0.0) * 1e6 + 0.5) / 1e6 AS s"
        "  FROM users u CROSS JOIN grid g"
        "  LEFT JOIN daily_u d ON d.user_id = u.user_id"
        "    AND d.day = g.day),",
        "daily_g AS (SELECT day, sum(value) AS gv FROM ev GROUP BY 1),",
        "r AS (SELECT g.i AS j,"
        "   floor(coalesce(dg.gv, 0.0)"
        "     / CAST(nullif(nu, 0) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS r"
        "  FROM grid g LEFT JOIN daily_g dg ON dg.day = g.day"
        "  CROSS JOIN nu),",
        "costs AS MATERIALIZED (SELECT s.user_id, s.i, r.j,"
        "   floor(abs(s.s - r.r) * 1e6 + 0.5) / 1e6 AS cost"
        "  FROM s CROSS JOIN r),",
        "d0 AS MATERIALIZED (SELECT user_id, i, j, cost AS val FROM costs"
        " WHERE i = 0 AND j = 0),",
    ]
    for k in range(1, 2 * n - 1):
        prev2 = (
            f"  LEFT JOIN d{k - 2} p ON p.user_id = c.user_id"
            "   AND p.i = c.i - 1 AND p.j = c.j - 1"
            if k >= 2
            else ""
        )
        p_val = f"coalesce(p.val, {_DTW_INF!r})" if k >= 2 else repr(_DTW_INF)
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT c.user_id, c.i, c.j,"
            f"  c.cost + least(coalesce(a.val, {_DTW_INF!r}),"
            f"    coalesce(b.val, {_DTW_INF!r}), {p_val}) AS val"
            " FROM costs c"
            f"  LEFT JOIN d{k - 1} a ON a.user_id = c.user_id"
            "   AND a.i = c.i - 1 AND a.j = c.j"
            f"  LEFT JOIN d{k - 1} b ON b.user_id = c.user_id"
            "   AND b.i = c.i AND b.j = c.j - 1"
            f"{prev2}"
            f" WHERE c.i + c.j = {k}),"
        )
    parts.append(
        "act AS (SELECT user_id,"
        "  CAST(sum(CASE WHEN s <> 0.0 THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_active_days FROM s GROUP BY 1)"
    )
    parts.append(
        " SELECT CAST(d.user_id AS BIGINT) AS user_id,"
        " floor(d.val * 1e6 + 0.5) / 1e6 AS dtw, act.n_active_days"
        f" FROM d{2 * n - 2} d JOIN act ON d.user_id = act.user_id"
    )
    sql = "".join(parts)
    return sql


QUERIES["udf_dtw_profile"] = udf_dtw_profile
ORACLES["udf_dtw_profile"] = _dtw_oracle()


# ---------------------------------------------------------------------------
# udf_token_spans — arrow-optimized Python UDTF (one row in, N span rows out)
# ---------------------------------------------------------------------------

# Bounded slice: the compare stays ~10% of the corpus at any SF (the
# dedup_lsh_recall_eval idiom — the restriction commutes with the
# per-document span generation).
UDTF_DOC_MOD = 10
UDTF_DOC_REM = 3


def udf_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-span manifest via a Spark 4 **arrow-optimized Python
    UDTF** (``@udtf(useArrow=True)`` + SQL ``LATERAL`` join) — the
    per-row one-to-many Python extension point: one input document,
    N output span rows, without an intermediate array column or an
    explode.  The span semantics themselves are deliberately
    SQL-expressible (split into single-space-separated token spans,
    emit per-token index / start offset / length — the byte-offset
    manifest a span-annotation or highlight pipeline ships) so the
    DuckDB oracle can hash-check the lane: ~60 output rows per input
    row exercises real one-to-many fan-out across Arrow batch
    boundaries, and
    a UDTF that dropped a row, reordered eval calls, or mangled Arrow
    batch boundaries breaks the hash.

    Scale: the UDTF is a NARROW per-row stage — no shuffle; input
    sized by ``_parts.arrow_parts``.  The plan must show
    ``ArrowEvalPythonUDTF`` (the Arrow lane), never
    ``BatchEvalPythonUDTF`` (row-pickling) — plan-locked in
    tests/test_plans.py.  Registration (``spark.udtf.register``
    + temp view) is idempotent per session, driver's vanilla session
    included."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="seg_idx: bigint, seg_start: bigint, seg_len: bigint",
        useArrow=True,
    )
    class _SegSpans:
        def eval(self, text):  # noqa: ANN001 — UDTF protocol signature
            if text is None:
                return
            off = 0
            for i, part in enumerate(text.split(' ')):
                yield (i, off, len(part))
                off += len(part) + 1

    spark.udtf.register("dta_seg_spans", _SegSpans)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % UDTF_DOC_MOD == UDTF_DOC_REM)
            & F.col("text").isNotNull()
        )
        .select("doc_id", "text")
        .repartition(arrow_parts(sf_dir, "documents"))
    )
    docs.createOrReplaceTempView("dta_seg_docs")
    return spark.sql(
        "SELECT d.doc_id, s.seg_idx, s.seg_start, s.seg_len"
        " FROM dta_seg_docs d, LATERAL dta_seg_spans(d.text) s"
    )


_TOKEN_SPANS_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS parts
  FROM documents
  WHERE doc_id % {UDTF_DOC_MOD} = {UDTF_DOC_REM} AND text IS NOT NULL),
z AS (SELECT doc_id,
    unnest(range(len(parts))) AS seg_idx,
    unnest(parts) AS seg
  FROM d),
m AS (SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
    CAST(length(seg) AS BIGINT) AS seg_len FROM z)
SELECT doc_id, seg_idx,
  CAST(coalesce(sum(seg_len + 1) OVER (PARTITION BY doc_id
    ORDER BY seg_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    0) AS BIGINT) AS seg_start,
  seg_len
FROM m
"""


QUERIES["udf_token_spans"] = udf_token_spans
ORACLES["udf_token_spans"] = _TOKEN_SPANS_ORACLE
