"""Streaming operators under the correctness gate.

``stream_windowed_counts`` runs the watermarked tumbling-window
aggregation as a real Structured Streaming query (availableNow
replay of the events table), drains it to a memory sink, and returns
the result DataFrame — so the streaming engine's answer faces the
same DuckDB oracle as every batch operator.  Window boundaries are
emitted as integer epoch-µs (hour-floor), keeping the cross-engine
timestamp contract.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from decision_tree_analytics_spark.operators._rules import US_PER_HOUR, round6
from decision_tree_analytics_spark.streaming.events_stream import (
    events_stream,
    run_to_memory,
    sliding_event_rate,
    window_dedup_latest,
    windowed_event_counts,
)

from decision_tree_analytics_spark.streaming.sessionize import session_aggregate

SESSION_GAP_US = 1_800_000_000  # 30 minutes, session_aggregate default
HALF_HOUR_US = US_PER_HOUR // 2


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"stream_win_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        windowed_event_counts(events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    return spark.table(name).select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


def stream_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming grouped top-k: the watermarked windowed counts run as
    a real streaming query (availableNow replay), then the per-window
    top-k event types rank over the drained aggregate.  The streaming
    stage holds only watermark-bounded window state; the rank runs
    over the already-aggregated (windows × types) table — at 100 TB
    the expensive cardinality reduction happened inside the stream,
    and the top-k input is O(windows × |event_type|), not O(events)."""
    from pyspark.sql import Window

    name = f"stream_topk_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        windowed_event_counts(events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        spark.table(name)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.unix_micros("window_start").alias("window_start_us"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "rank",
        )
    )


def stream_rate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h / 30 min) event-rate monitor with a spike
    flag: a window is a spike when its count exceeds 1.25× the mean
    window count.  The mean comes from a broadcast single-row
    aggregate over the drained window table (never a global window
    function)."""
    name = f"stream_rate_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        sliding_event_rate(events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    wins = spark.table(name).select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )
    mean = wins.agg(F.avg("n_events").alias("mean_n"))
    return wins.crossJoin(F.broadcast(mean)).select(
        "window_start_us",
        "n_events",
        round6(F.col("n_events") / 60.0).alias("rate_per_min"),
        (F.col("n_events") > 1.25 * F.col("mean_n")).cast("long").alias("is_spike"),
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization as a real streaming query
    (availableNow replay) under the oracle gate: gap-merged sessions
    are SQL-expressible as gaps-and-islands (lag + running boundary
    sum), so the streaming state machine's output hash-matches DuckDB.

    session_window semantics: a new session starts when the gap is
    ≥ 30 min (windows are half-open [t, t+gap)); session_end = last
    event + gap.  State per (user, open session) is one merged
    window, pruned by the watermark — the 100 TB sessionization path
    (no per-event buffering, no Python)."""
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        session_aggregate(events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        round6(F.col("session_value")).alias("session_value"),
    )


def stream_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed last-write-wins dedup of streaming upserts (see
    streaming/events_stream.py:window_dedup_latest)."""
    name = f"stream_wdedup_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        window_dedup_latest(events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    return spark.table(name).select(
        F.unix_micros("window_start").alias("window_start_us"),
        "user_id",
        "event_type",
        "last_value",
        F.col("n_versions").cast("long").alias("n_versions"),
    )


PAIRS_LOOKBACK_US = 300_000_000  # 5 minutes
PAIRS_MAX_USER = 50


def stream_recent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-interval self-join under the oracle gate:
    pair each event with the same user's events from the preceding 5
    minutes (streaming/events_stream.py:recent_pairs_stream).

    Both sides carry event-time watermarks and the join condition
    bounds prev_time to a finite interval behind event_time, so join
    state is evicted as the watermark advances — O(events in the
    interval) state, the only stream-stream join shape that survives
    an unbounded stream.  The batch-SQL oracle (plain inequality
    self-join) proves the streaming answer exact.  Bounded to
    user_id < 50 to keep the oracle's quadratic check small; the
    streaming plan itself is linear in matches."""
    name = f"stream_pairs_{uuid.uuid4().hex[:8]}"
    from decision_tree_analytics_spark.streaming.events_stream import (
        recent_pairs_stream,
    )

    run_to_memory(
        recent_pairs_stream(
            spark, sf_dir, lookback="5 minutes", max_user=PAIRS_MAX_USER
        ),
        name,
        output_mode="append",
    )
    return spark.table(name).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("prev_event_id").cast("long").alias("prev_event_id"),
        F.col("user_id").cast("long").alias("user_id"),
    )


def stream_enrich_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dim enrichment under the oracle gate: the event
    stream joins the customer dim (re-planned each micro-batch,
    broadcast as a bounded dim — the stream side never shuffles for
    the join) and aggregates counts per (market segment, event type).
    See streaming/events_stream.py:enriched_segment_counts."""
    from decision_tree_analytics_spark.sources.tables import load_table
    from decision_tree_analytics_spark.streaming.events_stream import (
        enriched_segment_counts,
    )

    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        enriched_segment_counts(
            events_stream(spark, sf_dir), load_table(spark, sf_dir, "customer")
        ),
        name,
        output_mode="complete",
    )
    return spark.table(name).select(
        "c_mktsegment",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        round6(F.col("sum_value")).alias("sum_value"),
    )


def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator under the oracle gate: per-user CUSUM
    drift detection via applyInPandasWithState (streaming/cusum.py) —
    the alarm-and-reset recurrence no window function can express —
    drained with availableNow and hash-compared against a recursive-
    CTE replay of the identical arithmetic in DuckDB."""
    from decision_tree_analytics_spark.streaming.cusum import user_cusum

    name = f"stream_cusum_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        user_cusum(events_stream(spark, sf_dir)), name, output_mode="update"
    )
    return spark.table(name).select(
        "user_id",
        "n_events",
        "n_alarms",
        round6(F.col("final_s")).alias("final_s"),
    )


def stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion into the lake-table format, end-to-end
    under the oracle: the event stream lands via a foreachBatch sink
    that COMMITS one SnapshotTable append per micro-batch (write →
    manifest → atomic publish, so readers only ever see whole
    batches), then the query reads the published table back and
    aggregates it — proving the stream→table→reader loop loses and
    duplicates nothing.

    This is the batch-verifiable twin of streaming/dedup_sink.py's
    replay-safe store sink; the shuffle-partition pin in the drain
    matches run_to_memory's rationale.  Each call ingests into a
    fresh temp table (content is what's verified, not the path)."""
    import tempfile

    from decision_tree_analytics_spark.sources.snapshots import SnapshotTable

    table_path = tempfile.mkdtemp(prefix="stream_snap_ingest_")

    def commit_batch(batch_df, batch_id: int) -> None:
        SnapshotTable(batch_df.sparkSession, table_path).append(
            batch_df.select("event_id", "event_type", "value")
        )

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        q = (
            events_stream(spark, sf_dir)
            .writeStream.outputMode("append")
            .foreachBatch(commit_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, old)
    landed = SnapshotTable(spark, table_path).read()
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        round6(F.sum("value")).alias("sum_value"),
    )


QUERIES = {
    "stream_snapshot_ingest": stream_snapshot_ingest,
    "stream_recent_pairs": stream_recent_pairs,
    "stream_enrich_segments": stream_enrich_segments,
    "stream_cusum": stream_cusum,
    "stream_windowed_counts": stream_windowed_counts,
    "stream_topk": stream_topk,
    "stream_rate_monitor": stream_rate_monitor,
    "stream_sessionize": stream_sessionize,
    "stream_window_dedup": stream_window_dedup,
}

def _sql_cusum() -> str:
    from decision_tree_analytics_spark.streaming.cusum import CUSUM_H, CUSUM_K

    k, h = CUSUM_K, CUSUM_H
    return (
        "WITH RECURSIVE seq AS (SELECT user_id, value, row_number() OVER ("
        "   PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn"
        "   FROM events WHERE value IS NOT NULL),"
        " rec(user_id, rn, s, n_alarms) AS ("
        f"   SELECT user_id, 1,"
        f"     CASE WHEN greatest(0, value - {k}) > {h} THEN 0"
        f"       ELSE greatest(0, value - {k}) END,"
        f"     CASE WHEN greatest(0, value - {k}) > {h} THEN 1 ELSE 0 END"
        "   FROM seq WHERE rn = 1"
        "   UNION ALL"
        f"   SELECT r.user_id, r.rn + 1,"
        f"     CASE WHEN greatest(0, r.s + q.value - {k}) > {h} THEN 0"
        f"       ELSE greatest(0, r.s + q.value - {k}) END,"
        f"     r.n_alarms + CASE WHEN greatest(0, r.s + q.value - {k}) > {h}"
        "       THEN 1 ELSE 0 END"
        "   FROM rec r JOIN seq q ON q.user_id = r.user_id"
        "     AND q.rn = r.rn + 1),"
        " fin AS (SELECT user_id, max(rn) AS n_events FROM seq GROUP BY 1)"
        " SELECT r.user_id, CAST(f.n_events AS BIGINT) AS n_events,"
        " CAST(r.n_alarms AS BIGINT) AS n_alarms,"
        " floor(r.s * 1e6 + 0.5) / 1e6 AS final_s"
        " FROM rec r JOIN fin f ON r.user_id = f.user_id AND r.rn = f.n_events"
    )


ORACLES = {
    "stream_snapshot_ingest": (
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,"
        " floor(sum(value) * 1e6 + 0.5) / 1e6 AS sum_value"
        " FROM events GROUP BY event_type"
    ),
    "stream_cusum": _sql_cusum(),
    "stream_enrich_segments": (
        "SELECT c.c_mktsegment, e.event_type,"
        " CAST(count(*) AS BIGINT) AS n_events,"
        " floor(sum(e.value) * 1e6 + 0.5) / 1e6 AS sum_value"
        " FROM events e JOIN customer c ON e.user_id = c.c_custkey"
        " GROUP BY 1, 2"
    ),
    "stream_recent_pairs": (
        "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us"
        f"   FROM events WHERE user_id < {PAIRS_MAX_USER})"
        " SELECT a.event_id AS event_id, b.event_id AS prev_event_id,"
        " a.user_id AS user_id"
        " FROM e a JOIN e b ON a.user_id = b.user_id"
        " AND b.us < a.us"
        f" AND b.us >= a.us - {PAIRS_LOOKBACK_US}"
    ),
    "stream_windowed_counts": (
        f"SELECT (epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR} AS window_start_us,"
        " event_type, COUNT(*) AS n_events, SUM(value) AS sum_value"
        " FROM events GROUP BY 1, 2"
    ),
    "stream_topk": (
        f"WITH wc AS (SELECT (epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR}"
        "     AS window_start_us,"
        "   event_type, CAST(COUNT(*) AS BIGINT) AS n_events"
        "   FROM events GROUP BY 1, 2)"
        " SELECT window_start_us, event_type, n_events, rank"
        " FROM (SELECT *, row_number() OVER (PARTITION BY window_start_us"
        "   ORDER BY n_events DESC, event_type ASC) AS rank FROM wc)"
        " WHERE rank <= 3"
    ),
    # Sliding windows: an event at t belongs to the two 1-hour windows
    # starting at gridfloor(t, 30m) and gridfloor(t, 30m) - 30m.
    "stream_rate_monitor": (
        f"WITH s AS (SELECT epoch_us(ts) AS us FROM events),"
        f" w AS (SELECT (us // {HALF_HOUR_US}) * {HALF_HOUR_US}"
        f"     - k * {HALF_HOUR_US} AS window_start_us"
        "    FROM s CROSS JOIN (SELECT unnest([0, 1]) AS k)),"
        " c AS (SELECT window_start_us, CAST(COUNT(*) AS BIGINT) AS n_events"
        "   FROM w GROUP BY 1)"
        " SELECT window_start_us, n_events,"
        " floor(n_events / 60.0 * 1e6 + 0.5) / 1e6 AS rate_per_min,"
        " CAST(CASE WHEN n_events > 1.25 * (SELECT avg(n_events) FROM c)"
        "   THEN 1 ELSE 0 END AS BIGINT) AS is_spike"
        " FROM c"
    ),
    # Gaps-and-islands: new session when the gap since the previous
    # event is >= the session gap (session_window's half-open [t,
    # t+gap) merge rule — note >=, not > as in rel_sessionize's
    # boundary convention).
    "stream_sessionize": (
        "WITH base AS (SELECT user_id, event_id, epoch_us(ts) AS t, value"
        "   FROM events),"
        " g AS (SELECT *, CASE WHEN t - lag(t) OVER ("
        "   PARTITION BY user_id ORDER BY t, event_id)"
        f"   >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new FROM base),"
        " s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id"
        "   ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g)"
        " SELECT user_id, min(t) AS session_start_us,"
        f" max(t) + {SESSION_GAP_US} AS session_end_us,"
        " CAST(count(*) AS BIGINT) AS n_events,"
        " floor(sum(value) * 1e6 + 0.5) / 1e6 AS session_value"
        " FROM s GROUP BY user_id, sid"
    ),
    "stream_window_dedup": (
        f"SELECT (epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR} AS window_start_us,"
        " user_id, event_type,"
        " arg_max(value, event_id) AS last_value,"
        " CAST(COUNT(*) AS BIGINT) AS n_versions"
        " FROM events GROUP BY 1, 2, 3"
    ),
}
