"""Structured Streaming over the events table.

The reference is batch-only (SURVEY §2.3: ``cdap-data-streams`` is
merely listed as a compatible parent artifact) — this module is the
rebuild's streaming story: the same event-table semantics expressed
as an incremental plan with event-time watermarks.

Design:

* file-source stream with an explicit schema (schema inference is a
  batch luxury; a production stream pins its schema),
* event-time = ``timestamp_micros(ts_ns div 1000)`` — the same
  integer-µs contract as the batch operators,
* watermark bounds state: windowed aggregation state is dropped once
  the watermark passes the window end, so state size is
  O(windows_in_flight × groups), independent of stream length —
  the property that matters at 100 TB/day,
* ``dropDuplicatesWithinWatermark`` gives bounded-state streaming
  dedup keyed on event_id (the streaming twin of Q24/exact dedup).

Tests drive these with ``trigger(availableNow=True)`` against the
static parquet and assert equality with the batch answers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from decision_tree_analytics_spark.session import prepare_session
from decision_tree_analytics_spark.sources.tables import (
    EVENTS_SCHEMA,
    events_ts_scale,
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table with event-time column.

    ``ts`` is read as raw INT64 in the file's native unit and
    normalized to epoch-ns exactly like the batch reader
    (sources/tables.py) so the two plans share one time contract."""
    # Imported here: importing the operators package imports this module.
    from decision_tree_analytics_spark.operators._rules import ts_us

    prepare_session(spark)
    # File stream sources take a directory; select just the events
    # file via glob (a production stream points at a landing dir).
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    scale = events_ts_scale(sf_dir)
    if scale != 1:
        raw = raw.withColumn("ts", (F.col("ts") * F.lit(scale)).cast("long"))
    return raw.withColumn("event_time", F.timestamp_micros(ts_us()))


def windowed_event_counts(stream: DataFrame, window: str = "1 hour",
                          watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window counts + value sum per event_type with a
    late-data watermark (state pruned past window end + watermark)."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_rate(stream: DataFrame, window: str = "1 hour",
                       slide: str = "30 minutes",
                       watermark: str = "10 minutes") -> DataFrame:
    """Sliding-window event counts — the monitoring shape.  Each event
    lands in window_len/slide windows (2 here); state is still bounded
    by the watermark.  Rate/anomaly scoring happens on the drained
    aggregate (O(windows) rows), not in the stream."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def window_dedup_latest(stream: DataFrame, window: str = "1 hour",
                        watermark: str = "10 minutes") -> DataFrame:
    """Windowed last-write-wins compaction of a stream of upserts:
    within each (window, user_id, event_type) cell keep the value of
    the highest event_id (the arrival-sequence number — deterministic,
    unlike max-ts with ties) plus the version count.  This is the
    streaming MERGE/compaction shape: the aggregation state per key is
    one (max_id, value, count) triple, pruned by the watermark — not a
    buffer of rows."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "user_id", "event_type")
        .agg(
            F.max_by("value", "event_id").alias("last_value"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "event_type",
            "last_value",
            "n_versions",
        )
    )


def enriched_segment_counts(stream: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static dim join: enrich each event with the customer's
    market segment, then count per (segment, event_type).

    The static side is re-planned every micro-batch (Spark re-reads
    the dim snapshot), and as a bounded dim it broadcasts — so the
    stream side never shuffles for the join; only the tiny post-join
    aggregate does.  This is the canonical streaming enrichment shape
    (fact stream × slowly-changing dim)."""
    dim = customers.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        stream.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def streaming_dedup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Bounded-state exact dedup on event_id within the watermark."""
    return stream.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def recent_pairs_stream(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "5 minutes",
    max_user: int | None = None,
) -> DataFrame:
    """Stream-stream interval self-join: pair each event with the same
    user's events from the preceding ``lookback`` window.

    Both sides carry watermarks and the join condition bounds
    ``prev_time`` to a finite interval behind ``event_time``, so Spark
    can expire join state once the watermark passes — state is
    O(events in the interval), not O(stream).  This is the
    sessionless "what happened just before" enrichment shape
    (fraud/funnel features) that a batch range join can't do
    continuously."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir).select(
        F.col("event_id").alias("prev_event_id"),
        F.col("user_id").alias("prev_user_id"),
        F.col("event_time").alias("prev_time"),
    )
    if max_user is not None:
        a = a.filter(F.col("user_id") < max_user)
        b = b.filter(F.col("prev_user_id") < max_user)
    a = a.withWatermark("event_time", "1 hour")
    b = b.withWatermark("prev_time", "1 hour")
    cond = (
        (F.col("user_id") == F.col("prev_user_id"))
        & (F.col("prev_time") < F.col("event_time"))
        & (F.col("prev_time") >= F.col("event_time") - F.expr(f"INTERVAL {lookback}"))
    )
    return a.join(b, cond).select("event_id", "prev_event_id", "user_id")


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drain an availableNow trigger into a memory sink; returns the
    finished StreamingQuery (caller reads ``spark.table(name)``).

    Aggregations should pass ``output_mode='complete'`` — in append
    mode a window only emits once the watermark passes it, and a
    bounded availableNow replay ends with open windows unemitted.

    The stateful-shuffle partition count is pinned low for the drain:
    a streaming query creates one state store PER shuffle partition
    PER stateful operator, so a vanilla session's 200 partitions cost
    ~200 store initializations of pure fixed overhead (a stream-stream
    join pays it per side).  The session value is restored afterwards
    — on a real cluster this knob is sized to the stream's key
    cardinality, not to a batch session's default."""
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, old)
    return q
