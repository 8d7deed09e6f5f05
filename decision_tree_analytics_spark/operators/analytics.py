"""Product-analytics operators — cohort retention, time-series gap
fill, and declarative data-quality checks.

The reference has no analytics surface (it delegates every relational
step to its host pipeline); these are the standard warehouse shapes a
user of a query engine expects on an events table, expressed so every
stage is a Catalyst-planned shuffle on bounded keys:

* cohort retention groups on (cohort_day, day_offset) — cardinality
  is days², not users;
* gap fill generates the missing time buckets with ``sequence`` +
  ``explode`` per key (never a driver-side calendar), so the densify
  step scales with keys × span, co-partitioned with the left join
  that follows;
* data-quality checks are ONE aggregate pass over the table unpivoted
  into a constraint report — the Deequ pattern: N constraints must
  not mean N scans.

Cross-engine notes (CLAUDE.md rules): the day key is
``(ts div 1000) div 86_400_000_000`` ≡ DuckDB
``epoch_us(ts) // 86400000000``; all ratios floor-rounded at 1e-6 on
both sides; count-ish columns cast to BIGINT.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._round import round6
from decision_tree_analytics_spark.sources.tables import load_table

US_PER_DAY = 86_400_000_000


def _day():
    """Epoch-day key: int64-ns → µs → day, all integer division
    (CLAUDE.md rule 1; a column expression must be built lazily —
    no active SparkContext at import time)."""
    return F.expr(f"(ts div 1000) div {US_PER_DAY}")


def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: cohort = day of the user's first
    event; for each (cohort_day, day_offset) count the distinct users
    still active.

    One shuffle on user_id computes the per-user cohort via a window
    min (no self-join back to the events table); the final aggregate
    groups on (cohort_day, day_offset) — bounded by span², regardless
    of user count."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", _day().alias("day")
    )
    w = Window.partitionBy("user_id")
    c = e.withColumn("cohort_day", F.min("day").over(w))
    return (
        c.groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def rel_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's daily series over their active span and
    forward-fill the last seen daily value — the time-series
    gap-fill / LOCF operator (TimescaleDB's time_bucket_gapfill +
    locf as one DataFrame plan).

    Scale shape: the calendar is generated per key with
    ``sequence(min_day, max_day)`` and exploded — keys × span rows,
    distributed, never a driver-side date range.  The left join back
    to the daily aggregate and the forward-fill window both partition
    on user_id, so AQE coalesces them onto one exchange lineage.  The
    first day of every span exists by construction (the span came
    from the data), so the running ``last(ignorenulls)`` never leaves
    a leading NULL."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", _day().alias("day"), "value"
    )
    daily = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("day_value"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    days = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = days.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    filled = F.last("day_value", ignorenulls=True).over(w)
    return j.select(
        "user_id",
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        round6(filled).alias("filled_value"),
    )


def rel_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint report over orders —
    completeness, key uniqueness, a value bound, and a categorical
    domain check — computed in ONE aggregate pass and unpivoted into
    a (check_name, observed, passed) report (the Deequ pattern: the
    number of constraints must not multiply the number of scans)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_custkey"),
        F.countDistinct("o_orderkey").alias("n_distinct_orderkey"),
        F.min("o_totalprice").alias("min_price"),
        F.sum(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 0).otherwise(1)
        ).alias("n_bad_status"),
    )
    checks = a.select(
        F.expr(
            "stack(4,"
            " 'completeness_o_custkey', CAST(n_custkey AS DOUBLE) / n_rows,"
            "   CAST(n_custkey = n_rows AS BIGINT),"
            " 'uniqueness_o_orderkey',"
            "   CAST(n_distinct_orderkey AS DOUBLE) / n_rows,"
            "   CAST(n_distinct_orderkey = n_rows AS BIGINT),"
            " 'min_o_totalprice_nonneg', CAST(min_price AS DOUBLE),"
            "   CAST(min_price >= 0 AS BIGINT),"
            " 'domain_o_orderstatus', CAST(n_bad_status AS DOUBLE),"
            "   CAST(n_bad_status = 0 AS BIGINT)"
            ") AS (check_name, observed, passed)"
        )
    )
    return checks.select(
        "check_name", round6(F.col("observed")).alias("observed"), "passed"
    )


def rel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited
    to the user's most recent preceding click/view (the "touch"),
    with the touch-to-purchase latency.

    One user-keyed shuffle; the as-of lookup is a conditional running
    ``last(ignorenulls)`` window — no self-join, no range join, the
    same union-free shape as rel_asof_join.  Purchases with no prior
    touch (organic) are dropped here; a left variant would keep them
    with NULL channel."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.expr("ts div 1000").alias("t")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.col("event_type").isin("click", "view")
    attributed = e.select(
        "event_id",
        "user_id",
        "event_type",
        "t",
        F.last(F.when(touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(touch, F.col("t")), ignorenulls=True)
        .over(w)
        .alias("touch_t"),
        F.last(F.when(touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_channel"),
    )
    return (
        attributed.filter(
            (F.col("event_type") == "purchase")
            & F.col("touch_event_id").isNotNull()
        )
        .select(
            F.col("event_id").cast("long").alias("purchase_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("touch_event_id").cast("long").alias("touch_event_id"),
            "touch_channel",
            (F.col("t") - F.col("touch_t")).cast("long").alias("latency_us"),
        )
    )


def rel_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak concurrency: the maximum number of user sessions
    simultaneously active within each day (sessions = 30-min-gap
    sessionization, clipped at day boundaries).

    The interval-overlap sweep: each clipped session emits (+1 at
    start, -1 past end); a per-day running sum over the ordered
    deltas is the instantaneous concurrency, and its max is the
    answer.  The sweep window partitions on day — state is bounded
    by one day's deltas, days parallelize, and no interval self-join
    (the naive O(n²) formulation) ever happens.  Tie order
    (t, delta, user, session) is total, so the running max is
    engine-deterministic."""
    from decision_tree_analytics_spark.operators.relational import rel_sessionize

    sess = rel_sessionize(spark, sf_dir).select(
        "user_id",
        "session_id",
        F.col("session_start_us").alias("st"),
        F.col("session_end_us").alias("en"),
    )
    days = sess.select(
        "user_id",
        "session_id",
        "st",
        "en",
        F.explode(
            F.sequence(
                F.expr(f"st div {US_PER_DAY}"), F.expr(f"en div {US_PER_DAY}")
            )
        ).alias("day"),
    )
    clip = days.select(
        "day",
        "user_id",
        "session_id",
        F.greatest(F.col("st"), F.col("day") * US_PER_DAY).alias("cs"),
        F.least(F.col("en"), (F.col("day") + 1) * US_PER_DAY - 1).alias("ce"),
    )
    deltas = clip.select(
        "day", F.col("cs").alias("t"), F.lit(1).alias("d"), "user_id", "session_id"
    ).unionByName(
        clip.select(
            "day",
            (F.col("ce") + 1).alias("t"),
            F.lit(-1).alias("d"),
            "user_id",
            "session_id",
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "d", "user_id", "session_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = deltas.select("day", "d", F.sum("d").over(w).alias("c"))
    return run.groupBy(F.col("day").cast("long").alias("day")).agg(
        F.max("c").cast("long").alias("peak_concurrency"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sessions"),
    )


def rel_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 slowly-changing dimension from an event log:
    track each user's state (their latest event_type) as
    [valid_from, valid_to) versions, collapsing consecutive repeats —
    the gaps-and-islands compression every CDC→warehouse dimension
    load needs.

    Two stacked windows on one user-keyed shuffle lineage: a lag()
    marks state changes, a lead() over the surviving change rows
    closes each version.  No self-join, no MERGE loop; the open
    (current) version carries NULL valid_to on both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    changes = e.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return changes.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("state"),
        F.col("t").cast("long").alias("valid_from_us"),
        (F.lead("t").over(w) - 1).cast("long").alias("valid_to_us"),
    )


def rel_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the running-countDistinct
    shape Spark's window functions refuse directly (and which would
    hold unbounded state if they didn't).

    The dedup-before-window trick: distinct-to-date(d) = |{users
    whose FIRST day ≤ d}|, so one user-keyed min-aggregate reduces
    the input to per-day new-user counts, and the running sum runs
    over the tiny day-cardinality table.  The unpartitioned window is
    deliberate and safe: by then the data is one row per day."""
    e = load_table(spark, sf_dir, "events").select("user_id", _day().alias("day"))
    days = e.select("day").distinct()
    first = e.groupBy("user_id").agg(F.min("day").alias("day"))
    new = first.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    j = days.join(new, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        F.col("day").cast("long").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


MARKOV_ITERS = 6
CONV_STATE = "purchase"


def rel_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution — the data-driven upgrade of
    last-touch (rel_attribution): build the first-order transition
    matrix over user journeys, estimate the probability of reaching
    the conversion state within MARKOV_ITERS steps by value iteration,
    then re-estimate with each channel blocked; a channel's credit is
    the relative conversion it carries: (V_base − V_removed) / V_base.

    Scale shape: ONE user-keyed window shuffle builds journey pairs
    and first-touches; everything after is arithmetic over the
    |states|²-row matrix — the 6 value-iteration rounds and the 5
    removal scenarios live entirely in |states|-sized tables, unrolled
    in-plan exactly like graph_pagerank (and mirrored as chained CTEs
    in the oracle, so the whole estimator is hash-verified)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    m_counts = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wa = Window.partitionBy("a")
    m = m_counts.select(
        "a", "b", (F.col("n") / F.sum("n").over(wa)).alias("p")
    )
    states = e.select(F.col("event_type").alias("s")).distinct()
    scen = (
        states.filter(F.col("s") != CONV_STATE)
        .select(F.col("s").alias("removed"))
        .unionByName(spark.range(1).select(F.lit("base").alias("removed")))
    )
    mm = m.crossJoin(scen).select(
        "removed",
        "a",
        "b",
        F.when(F.col("b") == F.col("removed"), F.lit(0.0))
        .otherwise(F.col("p"))
        .alias("p"),
    )
    grid = states.crossJoin(scen)
    v = grid.select(
        "removed",
        "s",
        F.when(F.col("s") == CONV_STATE, F.lit(1.0)).otherwise(F.lit(0.0)).alias("v"),
    )
    for _ in range(MARKOV_ITERS):
        acc = (
            mm.alias("m")
            .join(
                v.alias("v"),
                (F.col("m.removed") == F.col("v.removed"))
                & (F.col("m.b") == F.col("v.s")),
            )
            .groupBy(F.col("m.removed").alias("removed"), F.col("m.a").alias("s"))
            .agg(F.sum(F.col("m.p") * F.col("v.v")).alias("acc"))
        )
        v = (
            grid.alias("g")
            .join(
                acc.alias("x"),
                (F.col("g.removed") == F.col("x.removed"))
                & (F.col("g.s") == F.col("x.s")),
                "left",
            )
            .select(
                F.col("g.removed").alias("removed"),
                F.col("g.s").alias("s"),
                F.when(F.col("g.s") == CONV_STATE, F.lit(1.0))
                .otherwise(F.coalesce("x.acc", F.lit(0.0)))
                .alias("v"),
            )
        )
    firsts = seq.filter(F.col("rn") == 1)
    tot = firsts.agg(F.count(F.lit(1)).cast("double").alias("nu"))
    st = (
        firsts.groupBy(F.col("event_type").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select("s", (F.col("n") / F.col("nu")).alias("sp"))
    )
    conv = (
        v.alias("v")
        .join(F.broadcast(st.alias("t")), F.col("v.s") == F.col("t.s"))
        .filter(F.col("v.s") != F.col("v.removed"))
        .groupBy(F.col("v.removed").alias("removed"))
        .agg(F.sum(F.col("t.sp") * F.col("v.v")).alias("V"))
    )
    base_v = conv.filter(F.col("removed") == "base").select(
        F.col("V").alias("baseV")
    )
    return (
        conv.filter(F.col("removed") != "base")
        .crossJoin(F.broadcast(base_v))
        .select(
            F.col("removed").alias("channel"),
            round6(F.col("baseV")).alias("base_cv"),
            round6(F.col("V")).alias("removed_cv"),
            round6((F.col("baseV") - F.col("V")) / F.col("baseV")).alias(
                "removal_effect"
            ),
        )
    )


def rel_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test readout: hash-deterministic 50/50 user
    assignment, per-variant conversion (user made ≥1 purchase), and
    the pooled two-proportion z statistic — the experiment-analysis
    query every growth team runs.

    Hash assignment (md5, rule 6) is stable across reruns and joins —
    the same user always lands in the same arm, with no assignment
    table to store.  One user-level aggregate (map-side partial), then
    a single-row conditional rollup; the z arithmetic is projection
    over that one row."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    # Metric: activation — the user's FIRST event is a purchase.  A
    # "any purchase ever" metric saturates to 1.0 on a dense event log
    # (degenerate z); first-touch activation stays a real proportion.
    u = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", 1.0)
            .otherwise(0.0)
            .alias("conv"),
        )
    )
    arm_a = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab-"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    v = u.select(arm_a.alias("is_a"), F.col("conv").cast("double"))
    r = v.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("double").alias("na"),
        F.sum(F.when(F.col("is_a"), F.col("conv")).otherwise(0.0)).alias("ka"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("double").alias("nb"),
        F.sum(F.when(~F.col("is_a"), F.col("conv")).otherwise(0.0)).alias("kb"),
    )
    # ANSI-safe denominators: an empty arm (na/nb = 0) or a saturated
    # pooled rate (pool ∈ {0, 1} ⇒ sqrt = 0) yields NULL on both
    # engines instead of a divide-by-zero error.
    na = F.expr("nullif(na, 0.0)")
    nb = F.expr("nullif(nb, 0.0)")
    pa, pb = F.col("ka") / na, F.col("kb") / nb
    pool = (F.col("ka") + F.col("kb")) / F.nullif(
        F.col("na") + F.col("nb"), F.lit(0.0)
    )
    z = (pa - pb) / F.nullif(
        F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb)), F.lit(0.0)
    )
    return r.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("ka").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("kb").cast("long").alias("conv_b"),
        round6(pa).alias("rate_a"),
        round6(pb).alias("rate_b"),
        round6(z).alias("z_score"),
    )


def rel_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-WEIGHTED average value (TWAP) — each observation
    weighted by how long it was "current" (until the user's next
    event), the metric finance/ops uses where a plain mean over-counts
    bursts.  Piecewise-constant integral: Σ vᵢ·(tᵢ₊₁-tᵢ) / (t_N-t₁).

    Scale: one shuffle on user_id; the lead() window and the
    per-user aggregate share the same partitioning so Catalyst plans
    a single exchange + sort.  ANSI: the duration denominator is
    nullif-guarded — a user whose events all share one timestamp
    yields NULL twap identically in both engines (CLAUDE.md ANSI
    rule).  Time key: epoch-µs via ``ts div 1000`` ≡ epoch_us(ts);
    segment weights are exact integer µs."""
    ev = load_table(spark, sf_dir, "events")
    t = F.expr("ts div 1000")
    w = Window.partitionBy("user_id").orderBy(t, F.col("event_id"))
    seg = ev.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    )
    dur = F.max("t") - F.min("t")
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dur.cast("long").alias("duration_us"),
        round6(
            F.sum(F.col("value") * (F.col("t_next") - F.col("t")))
            / F.nullif(dur.cast("double"), F.lit(0.0))
        ).alias("twap"),
        round6(F.avg("value")).alias("plain_avg"),
    )


_TWAP_SQL = """
WITH seg AS (SELECT user_id, value, epoch_us(ts) AS t,
    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      ORDER BY epoch_us(ts), event_id) AS t_next
  FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
  CAST(max(t) - min(t) AS BIGINT) AS duration_us,
  floor(sum(value * (t_next - t))
    / nullif(CAST(max(t) - min(t) AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6 AS twap,
  floor(avg(value) * 1e6 + 0.5) / 1e6 AS plain_avg
FROM seg GROUP BY user_id
"""


QUERIES = {
    "rel_twap": rel_twap,
    "rel_attribution_markov": rel_attribution_markov,
    "rel_ab_test": rel_ab_test,
    "rel_cohort_retention": rel_cohort_retention,
    "rel_gap_fill": rel_gap_fill,
    "rel_data_quality": rel_data_quality,
    "rel_attribution": rel_attribution,
    "rel_concurrency": rel_concurrency,
    "rel_scd2_build": rel_scd2_build,
    "rel_running_distinct": rel_running_distinct,
}

def _sql_markov_iteration(prev: str, cur: str) -> str:
    return (
        f" {cur} AS (SELECT g.removed, g.s,"
        f"   CASE WHEN g.s = '{CONV_STATE}' THEN 1.0"
        "     ELSE coalesce(x.acc, 0.0) END AS v"
        "   FROM grid g LEFT JOIN ("
        f"     SELECT mm.removed, mm.a AS s, sum(mm.p * {prev}.v) AS acc"
        f"     FROM mm JOIN {prev} ON mm.removed = {prev}.removed"
        f"       AND mm.b = {prev}.s GROUP BY 1, 2) x"
        "   ON g.removed = x.removed AND g.s = x.s)"
    )


_SQL_MARKOV_ATTRIBUTION = (
    "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t"
    "   FROM events),"
    " seq AS (SELECT user_id, event_type,"
    "   lead(event_type) OVER w AS nxt, row_number() OVER w AS rn"
    "   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),"
    " mc AS (SELECT event_type AS a, nxt AS b, count(*) AS n FROM seq"
    "   WHERE nxt IS NOT NULL GROUP BY 1, 2),"
    " m AS (SELECT a, b, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY a)"
    "   AS p FROM mc),"
    " states AS (SELECT DISTINCT event_type AS s FROM e),"
    f" scen AS (SELECT s AS removed FROM states WHERE s <> '{CONV_STATE}'"
    "   UNION ALL SELECT 'base'),"
    " mm AS (SELECT removed, a, b,"
    "   CASE WHEN b = removed THEN 0.0 ELSE p END AS p"
    "   FROM m CROSS JOIN scen),"
    " grid AS (SELECT removed, s FROM states CROSS JOIN scen),"
    f" v0 AS (SELECT removed, s, CASE WHEN s = '{CONV_STATE}' THEN 1.0"
    "   ELSE 0.0 END AS v FROM grid),"
    + ",".join(
        _sql_markov_iteration(f"v{i}", f"v{i + 1}") for i in range(MARKOV_ITERS)
    )
    + ","
    " firsts AS (SELECT event_type AS s FROM seq WHERE rn = 1),"
    " tot AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM firsts),"
    " st AS (SELECT s, count(*) / (SELECT nu FROM tot) AS sp FROM firsts"
    "   GROUP BY 1),"
    f" conv AS (SELECT v.removed, sum(st.sp * v.v) AS V FROM v{MARKOV_ITERS} v"
    "   JOIN st ON v.s = st.s WHERE v.s <> v.removed GROUP BY 1),"
    " basev AS (SELECT V AS baseV FROM conv WHERE removed = 'base')"
    " SELECT removed AS channel,"
    " floor(baseV * 1e6 + 0.5) / 1e6 AS base_cv,"
    " floor(V * 1e6 + 0.5) / 1e6 AS removed_cv,"
    " floor((baseV - V) / baseV * 1e6 + 0.5) / 1e6 AS removal_effect"
    " FROM conv CROSS JOIN basev WHERE removed <> 'base'"
)


ORACLES = {
    "rel_twap": _TWAP_SQL,
    "rel_attribution_markov": _SQL_MARKOV_ATTRIBUTION,
    "rel_ab_test": (
        "WITH u AS (SELECT user_id,"
        "   CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS conv"
        "   FROM (SELECT user_id, event_type, row_number() OVER ("
        "     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn"
        "     FROM events) WHERE rn = 1),"
        " v AS (SELECT ('0x' || substr(md5('ab-' || CAST(user_id AS VARCHAR)),"
        "   1, 8))::BIGINT % 2 = 0 AS is_a, conv FROM u),"
        " r AS (SELECT"
        "   CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS DOUBLE) AS na,"
        "   sum(CASE WHEN is_a THEN conv ELSE 0.0 END) AS ka,"
        "   CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS DOUBLE) AS nb,"
        "   sum(CASE WHEN NOT is_a THEN conv ELSE 0.0 END) AS kb FROM v)"
        " SELECT CAST(na AS BIGINT) AS n_a, CAST(ka AS BIGINT) AS conv_a,"
        " CAST(nb AS BIGINT) AS n_b, CAST(kb AS BIGINT) AS conv_b,"
        " floor(ka / nullif(na, 0.0) * 1e6 + 0.5) / 1e6 AS rate_a,"
        " floor(kb / nullif(nb, 0.0) * 1e6 + 0.5) / 1e6 AS rate_b,"
        " floor((ka / nullif(na, 0.0) - kb / nullif(nb, 0.0))"
        "   / nullif(sqrt((ka + kb) / nullif(na + nb, 0.0)"
        "   * (1 - (ka + kb) / nullif(na + nb, 0.0))"
        "   * (1 / nullif(na, 0.0) + 1 / nullif(nb, 0.0))), 0.0)"
        "   * 1e6 + 0.5) / 1e6 AS z_score"
        " FROM r"
    ),
    "rel_cohort_retention": (
        f"WITH e AS (SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS day"
        "   FROM events),"
        " c AS (SELECT user_id, day,"
        "   min(day) OVER (PARTITION BY user_id) AS cohort_day FROM e)"
        " SELECT cohort_day, day - cohort_day AS day_offset,"
        " CAST(count(DISTINCT user_id) AS BIGINT) AS n_users"
        " FROM c GROUP BY 1, 2"
    ),
    "rel_gap_fill": (
        f"WITH e AS (SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS day,"
        "   value FROM events),"
        " daily AS (SELECT user_id, day,"
        "   CAST(count(*) AS BIGINT) AS n_events, sum(value) AS day_value"
        "   FROM e GROUP BY 1, 2),"
        " span AS (SELECT user_id, min(day) AS d0, max(day) AS d1"
        "   FROM daily GROUP BY 1),"
        " days AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day"
        "   FROM span),"
        " j AS (SELECT days.user_id, days.day, daily.n_events,"
        "   daily.day_value FROM days LEFT JOIN daily"
        "   ON days.user_id = daily.user_id AND days.day = daily.day)"
        " SELECT user_id, day, coalesce(n_events, 0) AS n_events,"
        " floor(last_value(day_value IGNORE NULLS) OVER ("
        "   PARTITION BY user_id ORDER BY day) * 1e6 + 0.5) / 1e6"
        "   AS filled_value"
        " FROM j"
    ),
    "rel_data_quality": (
        "WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,"
        "   CAST(count(o_custkey) AS BIGINT) AS n_custkey,"
        "   CAST(count(DISTINCT o_orderkey) AS BIGINT)"
        "     AS n_distinct_orderkey,"
        "   min(o_totalprice) AS min_price,"
        "   CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P')"
        "     THEN 0 ELSE 1 END) AS BIGINT) AS n_bad_status"
        "   FROM orders)"
        " SELECT check_name,"
        " floor(observed * 1e6 + 0.5) / 1e6 AS observed, passed FROM ("
        "   SELECT 'completeness_o_custkey' AS check_name,"
        "     CAST(n_custkey AS DOUBLE) / n_rows AS observed,"
        "     CAST(n_custkey = n_rows AS BIGINT) AS passed FROM a"
        "   UNION ALL SELECT 'uniqueness_o_orderkey',"
        "     CAST(n_distinct_orderkey AS DOUBLE) / n_rows,"
        "     CAST(n_distinct_orderkey = n_rows AS BIGINT) FROM a"
        "   UNION ALL SELECT 'min_o_totalprice_nonneg',"
        "     CAST(min_price AS DOUBLE),"
        "     CAST(min_price >= 0 AS BIGINT) FROM a"
        "   UNION ALL SELECT 'domain_o_orderstatus',"
        "     CAST(n_bad_status AS DOUBLE),"
        "     CAST(n_bad_status = 0 AS BIGINT) FROM a"
        " ) t"
    ),
    "rel_attribution": (
        "WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t"
        "   FROM events),"
        " w AS (SELECT event_id, user_id, event_type, t,"
        "   last_value(CASE WHEN event_type IN ('click','view')"
        "     THEN event_id END IGNORE NULLS) OVER win AS touch_event_id,"
        "   last_value(CASE WHEN event_type IN ('click','view')"
        "     THEN t END IGNORE NULLS) OVER win AS touch_t,"
        "   last_value(CASE WHEN event_type IN ('click','view')"
        "     THEN event_type END IGNORE NULLS) OVER win AS touch_channel"
        "   FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
        " SELECT CAST(event_id AS BIGINT) AS purchase_id,"
        " CAST(user_id AS BIGINT) AS user_id,"
        " CAST(touch_event_id AS BIGINT) AS touch_event_id, touch_channel,"
        " CAST(t - touch_t AS BIGINT) AS latency_us"
        " FROM w WHERE event_type = 'purchase'"
        "   AND touch_event_id IS NOT NULL"
    ),
    "rel_concurrency": (
        "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),"
        " g AS (SELECT user_id, event_id, t,"
        "   CASE WHEN t - lag(t) OVER (PARTITION BY user_id"
        "     ORDER BY t, event_id) > 1800000000 THEN 1 ELSE 0 END AS is_new"
        "   FROM e),"
        " s AS (SELECT user_id, t,"
        "   sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        "     AS session_id FROM g),"
        " sess AS (SELECT user_id, session_id, min(t) AS st, max(t) AS en"
        "   FROM s GROUP BY 1, 2),"
        f" days AS (SELECT user_id, session_id, st, en,"
        f"   unnest(generate_series(st // {US_PER_DAY}, en // {US_PER_DAY}))"
        "     AS day FROM sess),"
        f" clip AS (SELECT day, user_id, session_id,"
        f"   greatest(st, day * {US_PER_DAY}) AS cs,"
        f"   least(en, (day + 1) * {US_PER_DAY} - 1) AS ce FROM days),"
        " deltas AS ("
        "   SELECT day, cs AS t, 1 AS d, user_id, session_id FROM clip"
        "   UNION ALL"
        "   SELECT day, ce + 1, -1, user_id, session_id FROM clip),"
        " run AS (SELECT day, d,"
        "   sum(d) OVER (PARTITION BY day ORDER BY t, d, user_id, session_id"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c"
        "   FROM deltas)"
        " SELECT CAST(day AS BIGINT) AS day,"
        " CAST(max(c) AS BIGINT) AS peak_concurrency,"
        " CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_sessions"
        " FROM run GROUP BY 1"
    ),
    "rel_scd2_build": (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t"
        "   FROM events),"
        " c AS (SELECT user_id, event_id, event_type, t,"
        "   lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)"
        "     AS prev FROM e),"
        " ch AS (SELECT user_id, event_type, t, event_id FROM c"
        "   WHERE prev IS NULL OR prev <> event_type)"
        " SELECT CAST(user_id AS BIGINT) AS user_id, event_type AS state,"
        " CAST(t AS BIGINT) AS valid_from_us,"
        " CAST(lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - 1"
        "   AS BIGINT) AS valid_to_us"
        " FROM ch"
    ),
    "rel_running_distinct": (
        f"WITH e AS (SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS day"
        "   FROM events),"
        " days AS (SELECT DISTINCT day FROM e),"
        " f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),"
        " n AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users"
        "   FROM f GROUP BY 1),"
        " j AS (SELECT days.day, coalesce(n.new_users, 0) AS new_users"
        "   FROM days LEFT JOIN n ON days.day = n.day)"
        " SELECT CAST(day AS BIGINT) AS day,"
        " CAST(new_users AS BIGINT) AS new_users,"
        " CAST(sum(new_users) OVER (ORDER BY day"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        "   AS cum_users"
        " FROM j"
    ),
}


PIT_WINDOW_US = 7 * US_PER_DAY  # trailing feature window


def rel_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature backfill — the feature-store primitive
    that builds a LEAKAGE-FREE training set: for every label event
    (here: each purchase), compute per-user features from events
    STRICTLY BEFORE that label's own timestamp — lifetime activity
    count, lifetime value sum, and trailing-7-day activity — so a
    model trained on these rows never sees information from its own
    label time or later (the point-in-time-correct join Feast/Tecton
    style stores exist to provide).

    One shuffle on user_id serves every feature: the events stream is
    ordered per user by the integer µs key and the features are RANGE
    frames ending at 1 PRECEDING (equal timestamps are excluded —
    "strictly before" even under ties, identically in both engines);
    the trailing window is the same frame with a bounded lower edge.
    Labels are then a filter over the windowed stream — features are
    computed once for all rows, not per label type.  At 100 TB this
    is the canonical backfill shape: one user-keyed shuffle, bounded
    per-user state, no self-join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("ts div 1000").alias("ts_us"),
    )
    w_life = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_7d = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-PIT_WINDOW_US, -1)
    )
    feat = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        F.count(F.lit(1)).over(w_life).cast("long").alias("n_prior"),
        round6(F.coalesce(F.sum("value").over(w_life), F.lit(0.0))).alias(
            "sum_prior"
        ),
        F.count(F.lit(1)).over(w_7d).cast("long").alias("n_7d"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "ts_us",
        "n_prior",
        "sum_prior",
        "n_7d",
    )


QUERIES["rel_pit_features"] = rel_pit_features
ORACLES["rel_pit_features"] = f"""
WITH ev AS (SELECT event_id, user_id, event_type, value,
    epoch_us(ts) AS ts_us FROM events),
feat AS (SELECT event_id, user_id, event_type, ts_us,
    CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_us
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
      AS n_prior,
    floor(coalesce(sum(value) OVER (PARTITION BY user_id ORDER BY ts_us
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
      * 1e6 + 0.5) / 1e6 AS sum_prior,
    CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_us
      RANGE BETWEEN {PIT_WINDOW_US} PRECEDING AND 1 PRECEDING) AS BIGINT)
      AS n_7d
  FROM ev)
SELECT CAST(event_id AS BIGINT) AS event_id,
  CAST(user_id AS BIGINT) AS user_id, ts_us, n_prior, sum_prior, n_7d
FROM feat WHERE event_type = 'purchase'
"""


def rel_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema — the
    cross-TABLE complement of rel_data_quality's single-table Deequ
    checks: for every FK edge, how many child rows point at a parent
    key that does not exist.

    One pass per CHILD table, not per edge: lineitem's three FK
    checks (orders/part/supplier) ride a single fact scan with three
    existence left-joins whose parent sides are distinct-key
    projections, then one conditional aggregate — the number of
    constraints must not multiply the number of 100 TB fact scans
    (the Deequ rule, applied across tables).  Parent key sets are
    dimension-sized (part/supplier/customer/nation/region) or
    key-only projections (orders), so Catalyst broadcasts where the
    size bound allows and shuffle-joins otherwise — both correct.
    The events.user_id→customer edge is the deliberately DIRTY one
    (events users are synthetic and exceed the customer domain):
    orphan accounting has to be proven on rows that actually violate.

    Output: one row per FK edge — child rows, orphans, orphan ppm
    (floor-rounded integer, rule 3/4)."""
    li = load_table(spark, sf_dir, "lineitem")
    ok = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k_ord")
    ).distinct()
    pk = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k_part")
    ).distinct()
    sk = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k_supp")
    ).distinct()
    li3 = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(ok, F.col("l_orderkey") == F.col("k_ord"), "left")
        .join(pk, F.col("l_partkey") == F.col("k_part"), "left")
        .join(sk, F.col("l_suppkey") == F.col("k_supp"), "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("k_ord").isNull().cast("int")).cast("long").alias("orph_ord"),
            F.sum(F.col("k_part").isNull().cast("int")).cast("long").alias("orph_part"),
            F.sum(F.col("k_supp").isNull().cast("int")).cast("long").alias("orph_supp"),
        )
        .select(
            F.expr(
                "stack(3,"
                " 'lineitem.l_orderkey->orders', n, orph_ord,"
                " 'lineitem.l_partkey->part', n, orph_part,"
                " 'lineitem.l_suppkey->supplier', n, orph_supp"
                ") AS (edge, n_child, n_orphans)"
            )
        )
    )

    def edge(child: str, ckey: str, parent: str, pkey: str) -> DataFrame:
        c = load_table(spark, sf_dir, child).select(F.col(ckey).alias("ck"))
        p = load_table(spark, sf_dir, parent).select(
            F.col(pkey).alias("pk")
        ).distinct()
        return (
            c.join(p, F.col("ck") == F.col("pk"), "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(F.col("pk").isNull().cast("int"))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(
                F.lit(f"{child}.{ckey}->{parent}").alias("edge"),
                "n_child",
                "n_orphans",
            )
        )

    rows = li3
    for e in [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("events", "user_id", "customer", "c_custkey"),
    ]:
        rows = rows.unionByName(edge(*e))
    # Planted-violation control: the same orders→customer edge checked
    # against the even-key HALF of the dimension (a soft-delete /
    # late-arriving-dimension stand-in).  Roughly half the children
    # must orphan, so the audit's nonzero accounting path is
    # hash-verified at every SF — a clean corpus would otherwise let a
    # broken orphan counter pass as all-zeros.
    oc = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("ck"))
    ch = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("pk"))
        .distinct()
    )
    control = (
        oc.join(ch, F.col("ck") == F.col("pk"), "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.col("pk").isNull().cast("int")).cast("long").alias("n_orphans"),
        )
        .select(
            F.lit("orders.o_custkey->customer[even-half control]").alias("edge"),
            "n_child",
            "n_orphans",
        )
    )
    rows = rows.unionByName(control)
    return rows.select(
        "edge",
        "n_child",
        "n_orphans",
        F.floor(F.col("n_orphans") / F.col("n_child").cast("double") * 1e6 + 0.5)
        .cast("long")
        .alias("orphan_ppm"),
    )


QUERIES["rel_fk_integrity"] = rel_fk_integrity
ORACLES["rel_fk_integrity"] = """
WITH li AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS orph_ord,
    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS orph_part,
    CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS orph_supp
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
    ON l.l_partkey = p.p_partkey
  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
    ON l.l_suppkey = s.s_suppkey),
e AS (
  SELECT 'lineitem.l_orderkey->orders' AS edge, n AS n_child,
         orph_ord AS n_orphans FROM li
  UNION ALL
  SELECT 'lineitem.l_partkey->part', n, orph_part FROM li
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier', n, orph_supp FROM li
  UNION ALL
  SELECT 'orders.o_custkey->customer', CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'customer.c_nationkey->nation', CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN nn.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer cu LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) nn
    ON cu.c_nationkey = nn.n_nationkey
  UNION ALL
  SELECT 'supplier.s_nationkey->nation', CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN nn.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM supplier su LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) nn
    ON su.s_nationkey = nn.n_nationkey
  UNION ALL
  SELECT 'nation.n_regionkey->region', CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM nation na LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
    ON na.n_regionkey = r.r_regionkey
  UNION ALL
  SELECT 'events.user_id->customer', CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events ev LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON ev.user_id = c.c_custkey
  UNION ALL
  SELECT 'orders.o_custkey->customer[even-half control]',
    CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o LEFT JOIN
    (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 2 = 0) c
    ON o.o_custkey = c.c_custkey)
SELECT edge, n_child, n_orphans,
  CAST(floor(n_orphans / CAST(n_child AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
    AS orphan_ppm
FROM e
"""


ASSOC_TOPK = 50


def rel_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (the A-priori pair step):
    baskets = orders, items = part brands, output the top-50 brand
    pairs by co-occurrence support with confidence P(b|a) and lift.

    Scale shape: the pair generator is a per-basket self-join on the
    DISTINCT (order, brand) item table — fan-out is C(items-per-
    basket, 2), bounded by the basket size (≤7 lineitems in this
    schema), never corpus-quadratic.  Brand supports are a ≤25-row
    broadcast; the basket count is a broadcast scalar; the top-50 is
    TakeOrderedAndProject (pair_supp DESC, brand tie-break — rule 5).
    The item table is persisted — it feeds the pair join twice plus
    both support aggregates, and Catalyst does not reuse exchanges
    across branches (the BM25 lesson).

    Determinism: supports are BIGINT counts; confidence and lift are
    single IEEE divisions of BIGINTs rounded at 1e-6 (lift written as
    (pair/supp_a)*(n/supp_b) so both engines execute the same two
    divisions — the BIGINT product n*pair*1e6 could overflow at real
    corpus sizes)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    items = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
        .persist()
    )
    nb = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    supp = items.groupBy("brand").agg(F.count(F.lit(1)).cast("long").alias("s"))
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("brand").alias("brand_a"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_supp"))
    )
    sa = F.broadcast(supp.select(F.col("brand").alias("brand_a"), F.col("s").alias("supp_a")))
    sb = F.broadcast(supp.select(F.col("brand").alias("brand_b"), F.col("s").alias("supp_b")))
    m = (
        pairs.join(sa, "brand_a")
        .join(sb, "brand_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "brand_a",
            "brand_b",
            "pair_supp",
            "supp_a",
            "supp_b",
            round6(F.col("pair_supp") / F.col("supp_a")).alias("conf_ab"),
            round6(
                (F.col("pair_supp") / F.col("supp_a"))
                * (F.col("n_baskets") / F.col("supp_b"))
            ).alias("lift"),
        )
    )
    result = m.orderBy(
        F.col("pair_supp").desc(), "brand_a", "brand_b"
    ).limit(ASSOC_TOPK)
    from decision_tree_analytics_spark.operators._cache import tether_cache

    return tether_cache(result, items)


QUERIES["rel_assoc_rules"] = rel_assoc_rules
ORACLES["rel_assoc_rules"] = f"""
WITH items AS (SELECT DISTINCT l_orderkey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey),
nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
  FROM items),
supp AS (SELECT brand, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
    CAST(count(*) AS BIGINT) AS pair_supp
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY 1, 2)
SELECT brand_a, brand_b, pair_supp, sa.s AS supp_a, sb.s AS supp_b,
  floor(pair_supp / sa.s * 1e6 + 0.5) / 1e6 AS conf_ab,
  floor((pair_supp / sa.s) * (nb.n_baskets / sb.s) * 1e6 + 0.5) / 1e6 AS lift
FROM pairs JOIN supp sa ON pairs.brand_a = sa.brand
JOIN supp sb ON pairs.brand_b = sb.brand
CROSS JOIN nb
ORDER BY pair_supp DESC, brand_a, brand_b LIMIT {ASSOC_TOPK}
"""
