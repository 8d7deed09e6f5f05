"""Extended statistics operators — regression aggregates, Markov
transition matrices, robust (MAD) anomaly detection, chi-square
independence, entropy/Gini profiles, equi-depth binning, key-skew
diagnostics, sequential patterns, week-over-week movers, daily-series
autocorrelation, hash-deterministic split audits, and the Heaps-law
vocabulary curve.

The reference delegates all statistics to its host (its only model is
MLlib's decision tree, SURVEY §2.1 O8); these are the classic
SQL-native statistical shapes a warehouse user expects, each one or
two bounded-key aggregate passes:

* regression aggregates are single-pass mergeable moments
  (``regr_*`` lowers to count/sum/covar/var partials) — the map-side
  combine does almost all the work, the shuffle carries |groups| rows;
* the Markov matrix is one user-keyed window (lag) plus one
  |states|²-bounded aggregate;
* MAD anomaly scoring needs two exact-median passes; group medians
  are computed with ``percentile`` over |event_type| groups (bounded
  state per group) and rebroadcast — the events table itself is
  scanned, never shuffled on its full width;
* chi-square reduces to the |types|×|dow| contingency table, then a
  handful of single-row joins — all post-contingency tables are tiny.

Cross-engine notes (CLAUDE.md rules): time keys via ``ts_us()``;
doubles floor-rounded at 1e-6 on both sides; counts cast BIGINT;
Spark exact ``percentile`` ≡ DuckDB ``quantile_cont`` (both
interpolate at rank p·(n-1)).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._rules import (
    US_PER_DAY,
    hex_int,
    round6,
    ts_bucket,
    ts_us,
)
from decision_tree_analytics_spark.operators.dedup import tokens
from decision_tree_analytics_spark.sources.tables import load_table


def rel_regression_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares via SQL regression aggregates:
    regress l_extendedprice on l_quantity within each l_returnflag.

    One aggregate pass: every ``regr_*`` is a mergeable moment
    (count / Σx / Σy / Σxy / Σx²), so partial aggregation happens
    map-side and the shuffle moves |groups| rows.  The intercept is
    rounded at 1e-2 (its magnitude is ~1e4 — finer would demand
    1e-10 relative agreement between the engines' summation orders);
    slope/r²/means at 1e-6."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    r2c = lambda c: F.floor(c * 1e2 + 0.5) / 1e2  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        F.expr("CAST(regr_count(y, x) AS BIGINT)").alias("n"),
        round6(F.expr("regr_slope(y, x)")).alias("slope"),
        r2c(F.expr("regr_intercept(y, x)")).alias("intercept"),
        round6(F.expr("regr_r2(y, x)")).alias("r2"),
        round6(F.expr("regr_avgx(y, x)")).alias("avg_x"),
        r2c(F.expr("regr_avgy(y, x)")).alias("avg_y"),
    )


def rel_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's
    event-type sequence: P(next = b | current = a), with counts.

    One user-keyed shuffle for the lag window, then a |states|²-row
    aggregate; the row-normalizing total comes from a window over the
    tiny matrix, not a second scan.  The classic funnel/behavior
    model build — at 100 TB the matrix is still 25 rows."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_us().alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    pairs = e.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    m = pairs.groupBy(
        F.col("event_type").alias("from_state"),
        F.col("next_type").alias("to_state"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy("from_state")
    return m.select(
        "from_state",
        "to_state",
        "n",
        round6(F.col("n") / F.sum("n").over(tot)).alias("p"),
    )


def rel_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type anomaly detection: modified z-score
    0.6745·(x − median)/MAD, flagging |z| > 3.5 (the Iglewicz-Hoaglin
    rule).  Mean/stddev-based scoring (udf_grouped_zscore) breaks
    under the very outliers it hunts; medians don't.

    Two exact-median aggregate passes over bounded groups (5 event
    types), each result broadcast-joined back to the scan — the
    events table is never shuffled.  Returns the per-type summary
    (medians plus outlier counts), so output stays |groups|-bounded
    at any scale."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )
    # nullif guards the ANSI divide: MAD is 0 whenever >=50% of a
    # group's values are identical — such degenerate groups yield
    # z = NULL identically in both engines (CLAUDE.md rule: keep
    # denominators provably nonzero or NULL them out on both sides).
    z = e.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "med",
        "mad",
        round6(
            F.lit(0.6745)
            * (F.col("value") - F.col("med"))
            / F.expr("nullif(mad, 0.0)")
        ).alias("z"),
    )
    return z.groupBy("event_type").agg(
        round6(F.first("med")).alias("med"),
        round6(F.first("mad")).alias("mad"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.abs(F.col("z")) > 3.5, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        round6(F.max(F.abs(F.col("z")))).alias("max_abs_z"),
    )


def rel_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence: is event_type independent of
    day-of-week?  Builds the |types|×7 contingency table in one
    aggregate pass, then computes per-cell (observed − expected)²/
    expected with window-summed marginals — every post-contingency
    step runs over ≤35 rows.  Returns the per-cell contributions plus
    the cell's share of the statistic (the drill-down an analyst
    actually reads); the global χ² is the sum of `contrib`."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        ((ts_bucket(US_PER_DAY) + 4) % 7).alias("dow"),
    )
    cells = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wn = Window.partitionBy()
    x = cells.select(
        "event_type",
        F.col("dow").cast("long").alias("dow"),
        F.col("o").cast("long").alias("observed"),
        (
            F.sum("o").over(wr) * F.sum("o").over(wc) / F.sum("o").over(wn)
        ).alias("e"),
        ((F.col("o") - F.sum("o").over(wr) * F.sum("o").over(wc) / F.sum("o").over(wn))
         ** 2).alias("d2"),
    )
    return x.select(
        "event_type",
        "dow",
        "observed",
        round6(F.col("e")).alias("expected"),
        round6(F.col("d2") / F.col("e")).alias("contrib"),
    )


def rel_seq_patterns(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k frequent event-type trigrams across all user sequences —
    sequential pattern mining's workhorse shape (PrefixSpan's length-3
    closed patterns over a fixed alphabet reduce to exactly this).

    One user-keyed window shuffle builds the (lead, lead²) trigram per
    event, then a |types|³-bounded aggregate; the global top-k is a
    TakeOrderedAndProject (per-partition heads, no global sort).
    Tie-break: pattern lexicographic, so the cut is deterministic."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_us().alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    tri = (
        e.withColumn("p2", F.lead("event_type", 1).over(w))
        .withColumn("p3", F.lead("event_type", 2).over(w))
        .filter(F.col("p3").isNotNull())
    )
    counts = tri.groupBy(
        F.col("event_type").alias("p1"), "p2", "p3"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return counts.orderBy(
        F.col("n").desc(), F.col("p1"), F.col("p2"), F.col("p3")
    ).limit(k)


def rel_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy, normalized entropy, and Gini impurity of the
    event-type distribution per day-of-week — the class-balance
    profile a training pipeline checks before sampling labels.

    One |dow|×|types|-bounded aggregate pass builds the contingency
    cells; entropy reduces over them with a window-summed marginal —
    every post-aggregate step runs on ≤35 rows regardless of corpus
    size.  log2 via ln/ln(2) (both engines), doubles floor-rounded at
    1e-6."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        ((ts_bucket(US_PER_DAY) + 4) % 7).alias("dow"),
    )
    cells = e.groupBy("dow", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    wd = Window.partitionBy("dow")
    p = cells.select(
        F.col("dow").cast("long").alias("dow"),
        (F.col("n") / F.sum("n").over(wd)).alias("p"),
        F.count(F.lit(1)).over(wd).cast("double").alias("k"),
    )
    # k = 1 (a day-of-week with a single event type) makes log2(k)
    # zero — an ANSI divide error; such days get norm_entropy = NULL
    # on both sides instead.
    ent = F.sum(-F.col("p") * F.log(2.0, "p"))
    k1 = F.first("k")
    return p.groupBy("dow").agg(
        round6(ent).alias("entropy"),
        round6(F.when(k1 > 1.0, ent / F.log(2.0, k1))).alias("norm_entropy"),
        round6(F.lit(1.0) - F.sum(F.col("p") * F.col("p"))).alias("gini"),
    )


def rel_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile binning of order totals: exact decile cut
    points (one percentile aggregate), broadcast to the scan, bin
    assigned by counting cuts below the value, then per-bin stats.

    The classic histogram-bucketing shape without a global sort: the
    cut table is 9 doubles (broadcastable at any scale), binning is a
    codegen projection, and the per-bin rollup is a 10-row aggregate.
    Cut-point membership: value ≤ cut stays in the lower bin (both
    engines count strictly-greater cuts)."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    cuts = o.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q / 10.0})").alias(f"c{q}")
            for q in range(1, 10)
        ]
    )
    binned = o.crossJoin(F.broadcast(cuts)).select(
        "o_totalprice",
        sum(
            [
                F.when(F.col("o_totalprice") > F.col(f"c{q}"), 1).otherwise(0)
                for q in range(1, 10)
            ],
            F.lit(1),
        )
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        round6(F.min("o_totalprice")).alias("lo"),
        round6(F.max("o_totalprice")).alias("hi"),
        round6(F.avg("o_totalprice")).alias("avg_price"),
    )


def rel_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic over events.user_id — the check you run
    BEFORE choosing a salted join/agg strategy (see skew_salted_join).

    One groupBy builds per-key counts; the profile (key count, max,
    top-1 share, exact p50/p90/p99 of the count distribution, p99/p50
    skew ratio) reduces those |keys| rows to one.  At 100 TB the
    per-key count table is exactly what AQE's skew statistics see."""
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_n"),
        round6(F.max("n") / F.sum("n")).alias("top1_share"),
        round6(F.expr("percentile(n, 0.5)")).alias("p50"),
        round6(F.expr("percentile(n, 0.9)")).alias("p90"),
        round6(F.expr("percentile(n, 0.99)")).alias("p99"),
        round6(
            F.expr("percentile(n, 0.99)") / F.expr("percentile(n, 0.5)")
        ).alias("skew_ratio"),
    )


SPLIT_BUCKETS = (8, 1, 1)  # train/val/test out of 10


def ml_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (80/10/10) by
    content hash, with the per-split × label balance table a training
    pipeline audits before a run.

    The split key is md5(doc_id) — content-derived and engine-portable
    (rule 6), stable under repartitioning and reruns (a random()
    split is neither), and uncorrelated with doc_id ordering.  Label
    = the document's language column.  Map-only assignment + one
    bounded aggregate."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string"))) % 10
    split = (
        F.when(bucket < SPLIT_BUCKETS[0], "train")
        .when(bucket < SPLIT_BUCKETS[0] + SPLIT_BUCKETS[1], "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def ns_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: bucket the corpus into 10 equal
    doc_id ranges and count the tokens whose FIRST occurrence falls in
    each bucket, plus the running vocabulary size.

    One explode → min(doc_id)-per-token aggregate (map-side partial
    min collapses the explode before the shuffle carries one row per
    distinct token), then a 10-row bucket rollup and a 10-row window —
    corpus-size-independent after the first aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens())).alias("tok"),
    )
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    hi = d.agg((F.max("doc_id") + 1).alias("n_docs"))
    bucketed = first.crossJoin(F.broadcast(hi)).select(
        F.expr("(first_doc * 10) div n_docs").cast("long").alias("bucket")
    )
    growth = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_tokens")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return growth.select(
        "bucket",
        "n_new_tokens",
        F.sum("n_new_tokens").over(w).cast("long").alias("vocab_size"),
    )


def rel_top_movers(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Week-over-week change detection: aggregate events to
    (event_type, week) cells, lag within each type for the previous
    week's count, rank the biggest absolute movers — the anomaly
    triage query on every metrics dashboard.

    One aggregate shuffles the corpus down to |types|×|weeks| cells;
    the lag window and the global top-k (TakeOrderedAndProject) run on
    that tiny grid.  Deterministic cut: |Δ| desc, then type/week."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        ts_bucket(US_PER_DAY * 7).alias("week"),
    )
    cells = e.groupBy("event_type", "week").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("week")
    d = cells.select(
        "event_type",
        F.col("week").cast("long").alias("week"),
        "n",
        F.lag("n").over(w).alias("prev_n"),
    ).filter(F.col("prev_n").isNotNull())
    return (
        d.select(
            "event_type",
            "week",
            "n",
            F.col("prev_n").cast("long").alias("prev_n"),
            (F.col("n") - F.col("prev_n")).cast("long").alias("delta"),
        )
        .orderBy(
            F.abs(F.col("delta")).desc(), F.col("event_type"), F.col("week")
        )
        .limit(k)
    )


def rel_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality diagnostic: Pearson autocorrelation of the daily
    event-count series at lag 1 (momentum) and lag 7 (weekly cycle) —
    the one-row check before fitting any seasonal model.

    The corpus reduces to |days| rows in one aggregate; the lag window
    and corr() run on that bounded grid (a year is 365 rows at any
    corpus size), so the deliberately global window is a constant-size
    driver-of-one-task stage, not a scale hazard."""
    e = load_table(spark, sf_dir, "events").select(
        ts_bucket(US_PER_DAY).alias("day")
    )
    daily = e.groupBy("day").agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = Window.orderBy("day")
    x = daily.select(
        "n",
        F.lag("n", 1).over(w).alias("l1"),
        F.lag("n", 7).over(w).alias("l7"),
    )
    return x.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        round6(F.corr("n", "l1")).alias("autocorr_lag1"),
        round6(F.corr("n", "l7")).alias("autocorr_lag7"),
    )


def rel_agg_quantifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-surface completion: deterministic MODE (most frequent
    day-of-week per event type, smallest dow breaking ties — builtin
    mode() is tie-arbitrary in both engines, so the portable form is
    count + rank) plus the boolean quantifier aggregates
    (bool_and / bool_or) and count_if.

    Two bounded aggregates joined on the 5-row type key; the mode
    branch ranks the |types|×7 cell grid."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        ((ts_bucket(US_PER_DAY) + 4) % 7).alias("dow"),
        "value",
    )
    cells = e.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n"))
    wm = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("dow").asc()
    )
    mode = (
        cells.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("dow").cast("long").alias("mode_dow"))
    )
    quants = e.groupBy("event_type").agg(
        F.expr("bool_and(value > 1)").cast("long").alias("all_above_1"),
        F.expr("bool_or(value > 400)").cast("long").alias("any_above_400"),
        F.expr("count_if(value > 100)").cast("long").alias("n_above_100"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return quants.join(F.broadcast(mode), "event_type")


def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation harness under the full oracle:
    confusion counts plus accuracy/precision/recall/F1, demonstrated
    on a deterministic rule model (predict "returned" when the line is
    deep-discounted) so every cell is hash-verified — an MLlib model
    plugs into the same shape rows-only.

    One single-pass conditional aggregate (map-side partials carry
    four counters); the metric arithmetic is projection over one row.
    All divides are nullif-guarded — a degenerate split (no positives
    predicted or present) yields NULL metrics on both engines instead
    of an ANSI divide error."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        (F.col("l_discount") >= 0.06).cast("int").alias("p"),
    )
    cnt = lambda c: F.sum(c).cast("long")  # noqa: E731
    r = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt(F.col("y") * F.col("p")).alias("tp"),
        cnt((1 - F.col("y")) * F.col("p")).alias("fp"),
        cnt(F.col("y") * (1 - F.col("p"))).alias("fn"),
        cnt((1 - F.col("y")) * (1 - F.col("p"))).alias("tn"),
    )
    d = lambda a, b: a.cast("double") / F.nullif(b.cast("double"), F.lit(0.0))  # noqa: E731
    prec = d(F.col("tp"), F.col("tp") + F.col("fp"))
    rec = d(F.col("tp"), F.col("tp") + F.col("fn"))
    return r.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        round6(d(F.col("tp") + F.col("tn"), F.col("n"))).alias("accuracy"),
        round6(prec).alias("precision"),
        round6(rec).alias("recall"),
        round6(2 * prec * rec / F.nullif(prec + rec, F.lit(0.0))).alias("f1"),
    )


def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: bucket a [0,1] model score into
    deciles and compare each bin's mean score against its empirical
    positive rate — the calibration check behind ECE and Platt
    scaling.  Score = scaled discount (deterministic stand-in for a
    model probability), outcome = the line was returned.

    Map-only bin assignment (pure codegen floor arithmetic, no cut
    table needed for a fixed [0,1] score) then one 10-row aggregate —
    the same single-shuffle shape at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_discount") * 10).alias("s"),
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
    )
    binned = li.select(
        F.least(F.floor(F.col("s") * 10), F.lit(9)).cast("long").alias("bin"),
        "s",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        round6(F.avg("s")).alias("mean_score"),
        round6(F.avg("y")).alias("pos_rate"),
        round6(F.avg("s") - F.avg("y")).alias("gap"),
    )


def rel_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — the outlier-clamping cleaning step a
    feature pipeline runs before training: clamp ``value`` to the
    exact per-type [p05, p95] band and report, per event_type, the
    clamp counts and the mean before/after.

    Scale: pass 1 computes the two exact percentiles per group
    (|event_type| groups, bounded state) and rebroadcasts the tiny
    band table; pass 2 is a map-side clamp + one mergeable aggregate —
    the events table never shuffles on its full width.  Strict
    inequalities against the band edges are boundary-safe across
    engines: both interpolate at rank p·(n-1), and a datum can only
    equal the band edge when the edge is exactly that datum (zero
    interpolation fraction or equal neighbors), where < is false in
    both engines identically."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bands = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    j = ev.join(F.broadcast(bands), "event_type")
    # least/greatest SKIP nulls in both engines, so a bare clamp would
    # impute NULL values to p95 and include them in mean_wins while n
    # and mean_raw exclude them (ADVICE r03).  Keep NULL rows NULL so
    # avg() drops them consistently on both sides.
    clamped = F.when(
        F.col("value").isNotNull(),
        F.greatest("p05", F.least("p95", F.col("value"))),
    )
    return j.groupBy("event_type").agg(
        F.count("value").cast("long").alias("n"),
        F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0))
        .cast("long")
        .alias("n_low"),
        F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
        round6(F.avg("value")).alias("mean_raw"),
        round6(F.avg(clamped)).alias("mean_wins"),
        round6(F.min("p05")).alias("p05"),
        round6(F.min("p95")).alias("p95"),
    )


_WINSORIZE_SQL = """
WITH bands AS (SELECT event_type,
    quantile_cont(value, 0.05) AS p05, quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY 1),
j AS (SELECT e.event_type, e.value, b.p05, b.p95
  FROM events e JOIN bands b USING (event_type))
SELECT event_type, CAST(count(value) AS BIGINT) AS n,
  CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
  CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
  floor(avg(value) * 1e6 + 0.5) / 1e6 AS mean_raw,
  floor(avg(CASE WHEN value IS NOT NULL
      THEN greatest(p05, least(p95, value)) END) * 1e6 + 0.5) / 1e6 AS mean_wins,
  floor(min(p05) * 1e6 + 0.5) / 1e6 AS p05,
  floor(min(p95) * 1e6 + 0.5) / 1e6 AS p95
FROM j GROUP BY event_type
"""


def rel_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit — the classic fraud /
    data-generation-bug detector for a value column: observed digit
    share vs the Benford expectation log10(1 + 1/d), with per-digit
    chi-square contributions.

    Cross-engine note: the first digit is extracted from the INTEGER
    cents rendering (floor(|v|·100 + 0.5) → string → first char),
    not from log10 arithmetic — integer-to-string is identical in
    both engines while log10(|v|) can land on either side of a power
    of ten by one ulp.  Scale: single mergeable aggregate over a
    9-key digit domain; the share denominator is the audited row
    count, provably positive because digit rows only exist when rows
    do."""
    ev = load_table(spark, sf_dir, "events").select("value")
    cents = F.floor(F.abs(F.col("value")) * 100 + 0.5).cast("long")
    digits = ev.select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    ).filter(F.col("digit") >= 1)
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    obs = F.col("n") / F.sum("n").over(w)
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    return counts.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        round6(obs).alias("obs_share"),
        round6(exp).alias("benford_share"),
        round6((obs - exp) * (obs - exp) / exp).alias("chi_contrib"),
    )


_BENFORD_SQL = """
WITH d AS (SELECT CAST(substr(CAST(CAST(floor(abs(value) * 100 + 0.5) AS BIGINT)
      AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM events),
counts AS (SELECT digit, count(*) AS n FROM d WHERE digit >= 1 GROUP BY 1)
SELECT digit, CAST(n AS BIGINT) AS n,
  floor(n / sum(n) OVER () * 1e6 + 0.5) / 1e6 AS obs_share,
  floor(log10(1.0 + 1.0 / digit) * 1e6 + 0.5) / 1e6 AS benford_share,
  floor((n / sum(n) OVER () - log10(1.0 + 1.0 / digit))
    * (n / sum(n) OVER () - log10(1.0 + 1.0 / digit))
    / log10(1.0 + 1.0 / digit) * 1e6 + 0.5) / 1e6 AS chi_contrib
FROM counts
"""


def rel_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event_type and day-of-week — the
    information-theoretic companion to rel_chi_square over the same
    |types|×7 contingency table: MI = Σ p(x,y)·log2(p(x,y)/(p(x)p(y)))
    plus both marginal entropies and normalized MI.

    Scale: ONE aggregate pass builds the contingency cells; the cell
    table (≤ 35 rows) is persisted so the joint/marginal/total
    reductions replay a 35-row cache, not the events scan, and the
    result is tether-released.  ANSI-safe by construction: groupBy
    emits only observed>0 cells, so every log2 argument and marginal
    denominator is positive; NMI's min-entropy denominator is
    nullif-guarded for the degenerate one-class corpus."""
    from decision_tree_analytics_spark.operators._cache import tether_cache

    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        ((ts_bucket(US_PER_DAY) + 4) % 7).alias("dow"),
    )
    cells = (
        e.groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
        .persist()
    )
    tot = cells.agg(F.sum("o").alias("n"))
    typ = cells.groupBy("event_type").agg(F.sum("o").alias("cx"))
    dw = cells.groupBy("dow").agg(F.sum("o").alias("cy"))
    mi = (
        cells.join(typ, "event_type")
        .join(dw, "dow")
        .crossJoin(tot)
        .agg(
            F.sum(
                (F.col("o") / F.col("n"))
                * F.log2(F.col("o") * F.col("n") / (F.col("cx") * F.col("cy")))
            ).alias("mi")
        )
    )
    hx = typ.crossJoin(tot).agg(
        F.sum(-(F.col("cx") / F.col("n")) * F.log2(F.col("cx") / F.col("n"))).alias(
            "hx"
        )
    )
    hy = dw.crossJoin(tot).agg(
        F.sum(-(F.col("cy") / F.col("n")) * F.log2(F.col("cy") / F.col("n"))).alias(
            "hy"
        )
    )
    out = (
        tot.crossJoin(mi)
        .crossJoin(hx)
        .crossJoin(hy)
        .select(
            F.col("n").cast("long").alias("n"),
            round6(F.col("mi")).alias("mi_bits"),
            round6(F.col("hx")).alias("h_type_bits"),
            round6(F.col("hy")).alias("h_dow_bits"),
            round6(
                F.col("mi") / F.nullif(F.least("hx", "hy"), F.lit(0.0))
            ).alias("nmi"),
        )
    )
    return tether_cache(out, cells)


_MI_SQL = f"""
WITH e AS (SELECT event_type,
    (epoch_us(ts) // {US_PER_DAY} + 4) % 7 AS dow FROM events),
cells AS (SELECT event_type, dow, CAST(count(*) AS DOUBLE) AS o
  FROM e GROUP BY 1, 2),
tot AS (SELECT sum(o) AS n FROM cells),
typ AS (SELECT event_type, sum(o) AS cx FROM cells GROUP BY 1),
dw AS (SELECT dow, sum(o) AS cy FROM cells GROUP BY 1),
mi AS (SELECT sum((o / n) * log2(o * n / (cx * cy))) AS mi
  FROM cells JOIN typ USING (event_type) JOIN dw USING (dow) CROSS JOIN tot),
hx AS (SELECT sum(-(cx / n) * log2(cx / n)) AS hx FROM typ CROSS JOIN tot),
hy AS (SELECT sum(-(cy / n) * log2(cy / n)) AS hy FROM dw CROSS JOIN tot)
SELECT CAST(n AS BIGINT) AS n,
  floor(mi * 1e6 + 0.5) / 1e6 AS mi_bits,
  floor(hx * 1e6 + 0.5) / 1e6 AS h_type_bits,
  floor(hy * 1e6 + 0.5) / 1e6 AS h_dow_bits,
  floor(mi / nullif(least(hx, hy), 0.0) * 1e6 + 0.5) / 1e6 AS nmi
FROM tot CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""


QUERIES = {
    "rel_mutual_info": rel_mutual_info,
    "rel_benford": rel_benford,
    "rel_winsorize": rel_winsorize,
    "ml_confusion_matrix": ml_confusion_matrix,
    "ml_calibration_bins": ml_calibration_bins,
    "rel_entropy": rel_entropy,
    "rel_top_movers": rel_top_movers,
    "rel_seasonality": rel_seasonality,
    "rel_agg_quantifiers": rel_agg_quantifiers,
    "rel_quantile_bin": rel_quantile_bin,
    "rel_skew_profile": rel_skew_profile,
    "ml_split_assign": ml_split_assign,
    "ns_vocab_growth": ns_vocab_growth,
    "rel_seq_patterns": rel_seq_patterns,
    "rel_regression_fns": rel_regression_fns,
    "rel_markov_transitions": rel_markov_transitions,
    "rel_anomaly_mad": rel_anomaly_mad,
    "rel_chi_square": rel_chi_square,
}

ORACLES = {
    "rel_mutual_info": _MI_SQL,
    "rel_benford": _BENFORD_SQL,
    "rel_winsorize": _WINSORIZE_SQL,
    "ml_confusion_matrix": (
        "WITH c AS (SELECT"
        "   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,"
        "   CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END AS p"
        "   FROM lineitem),"
        " r AS (SELECT CAST(count(*) AS BIGINT) AS n,"
        "   CAST(sum(y * p) AS BIGINT) AS tp,"
        "   CAST(sum((1 - y) * p) AS BIGINT) AS fp,"
        "   CAST(sum(y * (1 - p)) AS BIGINT) AS fn,"
        "   CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn FROM c)"
        " SELECT n, tp, fp, fn, tn,"
        " floor(CAST(tp + tn AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0)"
        "   * 1e6 + 0.5) / 1e6 AS accuracy,"
        " floor(CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)"
        "   * 1e6 + 0.5) / 1e6 AS precision,"
        " floor(CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)"
        "   * 1e6 + 0.5) / 1e6 AS recall,"
        " floor(2 * (CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0))"
        "   * (CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0))"
        "   / nullif(CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)"
        "     + CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0), 0.0)"
        "   * 1e6 + 0.5) / 1e6 AS f1"
        " FROM r"
    ),
    "ml_calibration_bins": (
        "WITH b AS (SELECT"
        "   CAST(least(floor(l_discount * 10 * 10), 9) AS BIGINT) AS bin,"
        "   l_discount * 10 AS s,"
        "   CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y"
        "   FROM lineitem)"
        " SELECT bin, CAST(count(*) AS BIGINT) AS n,"
        " floor(avg(s) * 1e6 + 0.5) / 1e6 AS mean_score,"
        " floor(avg(y) * 1e6 + 0.5) / 1e6 AS pos_rate,"
        " floor((avg(s) - avg(y)) * 1e6 + 0.5) / 1e6 AS gap"
        " FROM b GROUP BY bin"
    ),
    "rel_agg_quantifiers": (
        f"WITH e AS (SELECT event_type,"
        f"   (epoch_us(ts) // {US_PER_DAY} + 4) % 7 AS dow, value FROM events),"
        " cells AS (SELECT event_type, dow, count(*) AS n FROM e"
        "   GROUP BY 1, 2),"
        " mode AS (SELECT event_type, CAST(dow AS BIGINT) AS mode_dow FROM ("
        "   SELECT event_type, dow, row_number() OVER ("
        "     PARTITION BY event_type ORDER BY n DESC, dow ASC) AS rn"
        "   FROM cells) WHERE rn = 1),"
        " q AS (SELECT event_type,"
        "   CAST(bool_and(value > 1) AS BIGINT) AS all_above_1,"
        "   CAST(bool_or(value > 400) AS BIGINT) AS any_above_400,"
        "   CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)"
        "     AS n_above_100,"
        "   CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)"
        " SELECT q.event_type, all_above_1, any_above_400, n_above_100, n,"
        " mode_dow FROM q JOIN mode ON q.event_type = mode.event_type"
    ),
    "rel_seasonality": (
        f"WITH e AS (SELECT epoch_us(ts) // {US_PER_DAY} AS day FROM events),"
        " daily AS (SELECT day, CAST(count(*) AS DOUBLE) AS n FROM e"
        "   GROUP BY 1),"
        " x AS (SELECT n, lag(n, 1) OVER (ORDER BY day) AS l1,"
        "   lag(n, 7) OVER (ORDER BY day) AS l7 FROM daily)"
        " SELECT CAST(count(*) AS BIGINT) AS n_days,"
        " floor(corr(n, l1) * 1e6 + 0.5) / 1e6 AS autocorr_lag1,"
        " floor(corr(n, l7) * 1e6 + 0.5) / 1e6 AS autocorr_lag7"
        " FROM x"
    ),
    "rel_top_movers": (
        f"WITH e AS (SELECT event_type,"
        f"   epoch_us(ts) // {US_PER_DAY * 7} AS week FROM events),"
        " cells AS (SELECT event_type, CAST(week AS BIGINT) AS week,"
        "   CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),"
        " d AS (SELECT event_type, week, n,"
        "   lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n"
        "   FROM cells)"
        " SELECT event_type, week, n, CAST(prev_n AS BIGINT) AS prev_n,"
        " CAST(n - prev_n AS BIGINT) AS delta"
        " FROM d WHERE prev_n IS NOT NULL"
        " ORDER BY abs(n - prev_n) DESC, event_type, week LIMIT 10"
    ),
    "rel_quantile_bin": (
        "WITH cuts AS (SELECT"
        + ",".join(
            f" quantile_cont(o_totalprice, {q / 10.0}) AS c{q}"
            for q in range(1, 10)
        )
        + " FROM orders),"
        " b AS (SELECT o_totalprice, CAST(1 "
        + " ".join(
            f"+ (CASE WHEN o_totalprice > c{q} THEN 1 ELSE 0 END)"
            for q in range(1, 10)
        )
        + " AS BIGINT) AS bin FROM orders CROSS JOIN cuts)"
        " SELECT bin, CAST(count(*) AS BIGINT) AS n,"
        " floor(min(o_totalprice) * 1e6 + 0.5) / 1e6 AS lo,"
        " floor(max(o_totalprice) * 1e6 + 0.5) / 1e6 AS hi,"
        " floor(avg(o_totalprice) * 1e6 + 0.5) / 1e6 AS avg_price"
        " FROM b GROUP BY bin"
    ),
    "rel_skew_profile": (
        "WITH c AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS n"
        "   FROM events GROUP BY 1)"
        " SELECT CAST(count(*) AS BIGINT) AS n_keys,"
        " CAST(sum(n) AS BIGINT) AS n_rows,"
        " CAST(max(n) AS BIGINT) AS max_n,"
        " floor(max(n) / sum(n) * 1e6 + 0.5) / 1e6 AS top1_share,"
        " floor(quantile_cont(n, 0.5) * 1e6 + 0.5) / 1e6 AS p50,"
        " floor(quantile_cont(n, 0.9) * 1e6 + 0.5) / 1e6 AS p90,"
        " floor(quantile_cont(n, 0.99) * 1e6 + 0.5) / 1e6 AS p99,"
        " floor(quantile_cont(n, 0.99) / quantile_cont(n, 0.5)"
        "   * 1e6 + 0.5) / 1e6 AS skew_ratio"
        " FROM c"
    ),
    "ml_split_assign": (
        "WITH a AS (SELECT"
        "   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10"
        "     AS bucket, lang FROM documents)"
        " SELECT CASE WHEN bucket < 8 THEN 'train'"
        "   WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split, lang,"
        " CAST(count(*) AS BIGINT) AS n"
        " FROM a GROUP BY 1, 2"
    ),
    "ns_vocab_growth": (
        "WITH toks AS (SELECT doc_id,"
        "   unnest(list_distinct(string_split(lower(trim(text)), ' ')))"
        "     AS tok FROM documents),"
        " first AS (SELECT tok, min(doc_id) AS first_doc FROM toks"
        "   GROUP BY 1),"
        " hi AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),"
        " g AS (SELECT CAST((first_doc * 10) // n_docs AS BIGINT) AS bucket,"
        "   CAST(count(*) AS BIGINT) AS n_new_tokens"
        "   FROM first CROSS JOIN hi GROUP BY 1)"
        " SELECT bucket, n_new_tokens,"
        " CAST(sum(n_new_tokens) OVER (ORDER BY bucket"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        "   AS vocab_size"
        " FROM g"
    ),
    "rel_entropy": (
        f"WITH e AS (SELECT event_type,"
        f"   (epoch_us(ts) // {US_PER_DAY} + 4) % 7 AS dow FROM events),"
        " cells AS (SELECT dow, event_type,"
        "   CAST(count(*) AS DOUBLE) AS n FROM e GROUP BY 1, 2),"
        " p AS (SELECT CAST(dow AS BIGINT) AS dow,"
        "   n / sum(n) OVER (PARTITION BY dow) AS p,"
        "   CAST(count(*) OVER (PARTITION BY dow) AS DOUBLE) AS k"
        "   FROM cells)"
        " SELECT dow,"
        " floor(sum(-p * ln(p) / ln(2)) * 1e6 + 0.5) / 1e6 AS entropy,"
        " floor(CASE WHEN any_value(k) > 1 THEN"
        "   sum(-p * ln(p) / ln(2)) / (ln(any_value(k)) / ln(2)) END"
        "   * 1e6 + 0.5) / 1e6 AS norm_entropy,"
        " floor((1.0 - sum(p * p)) * 1e6 + 0.5) / 1e6 AS gini"
        " FROM p GROUP BY dow"
    ),
    "rel_seq_patterns": (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t"
        "   FROM events),"
        " tri AS (SELECT event_type AS p1,"
        "   lead(event_type, 1) OVER w AS p2,"
        "   lead(event_type, 2) OVER w AS p3"
        "   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))"
        " SELECT p1, p2, p3, CAST(count(*) AS BIGINT) AS n"
        " FROM tri WHERE p3 IS NOT NULL GROUP BY 1, 2, 3"
        " ORDER BY n DESC, p1, p2, p3 LIMIT 20"
    ),
    "rel_regression_fns": (
        "SELECT l_returnflag,"
        " CAST(regr_count(y, x) AS BIGINT) AS n,"
        " floor(regr_slope(y, x) * 1e6 + 0.5) / 1e6 AS slope,"
        " floor(regr_intercept(y, x) * 1e2 + 0.5) / 1e2 AS intercept,"
        " floor(regr_r2(y, x) * 1e6 + 0.5) / 1e6 AS r2,"
        " floor(regr_avgx(y, x) * 1e6 + 0.5) / 1e6 AS avg_x,"
        " floor(regr_avgy(y, x) * 1e2 + 0.5) / 1e2 AS avg_y"
        " FROM (SELECT l_returnflag, l_quantity AS x, l_extendedprice AS y"
        "   FROM lineitem) GROUP BY l_returnflag"
    ),
    "rel_markov_transitions": (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t"
        "   FROM events),"
        " p AS (SELECT event_type AS from_state,"
        "   lead(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)"
        "     AS to_state FROM e),"
        " m AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n"
        "   FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)"
        " SELECT from_state, to_state, n,"
        " floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_state)"
        "   * 1e6 + 0.5) / 1e6 AS p"
        " FROM m"
    ),
    "rel_anomaly_mad": (
        "WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med"
        "   FROM events GROUP BY 1),"
        " mad AS (SELECT e.event_type, any_value(med) AS med,"
        "   quantile_cont(abs(value - med), 0.5) AS mad"
        "   FROM events e JOIN med USING (event_type) GROUP BY 1),"
        " z AS (SELECT e.event_type, med, mad,"
        "   floor(0.6745 * (value - med) / nullif(mad, 0.0)"
        "     * 1e6 + 0.5) / 1e6 AS z"
        "   FROM events e JOIN mad USING (event_type))"
        " SELECT event_type,"
        " floor(any_value(med) * 1e6 + 0.5) / 1e6 AS med,"
        " floor(any_value(mad) * 1e6 + 0.5) / 1e6 AS mad,"
        " CAST(count(*) AS BIGINT) AS n,"
        " CAST(sum(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_outliers,"
        " floor(max(abs(z)) * 1e6 + 0.5) / 1e6 AS max_abs_z"
        " FROM z GROUP BY 1"
    ),
    "rel_chi_square": (
        f"WITH e AS (SELECT event_type,"
        f"   (epoch_us(ts) // {US_PER_DAY} + 4) % 7 AS dow FROM events),"
        " cells AS (SELECT event_type, dow,"
        "   CAST(count(*) AS DOUBLE) AS o FROM e GROUP BY 1, 2),"
        " x AS (SELECT event_type, CAST(dow AS BIGINT) AS dow,"
        "   CAST(o AS BIGINT) AS observed,"
        "   sum(o) OVER (PARTITION BY event_type) * sum(o) OVER (PARTITION BY dow)"
        "     / sum(o) OVER () AS e,"
        "   o FROM cells)"
        " SELECT event_type, dow, observed,"
        " floor(e * 1e6 + 0.5) / 1e6 AS expected,"
        " floor((o - e) * (o - e) / e * 1e6 + 0.5) / 1e6 AS contrib"
        " FROM x"
    ),
}


ROLL_WIN = 5  # odd ROWS frame → the median is an exact element


def rel_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of the per-type daily mean series over a
    5-observation ROWS frame — the robust smoother ops dashboards run
    next to the EWMA family (udf_holt_smooth).

    Cross-engine exactness: an ODD frame makes the median a concrete
    element, never an interpolation (engines interpolate even-sized
    medians differently) — both sides sort the frame's list and take
    the middle element; rows before the frame fills are dropped.
    Scale: the corpus reduces to the |types|×|days| grid first; the
    window state is a bounded 5-element list per row."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            ts_bucket(US_PER_DAY).alias("day"),
            "value",
        )
    )
    daily = ev.groupBy("event_type", "day").agg(
        round6(F.avg("value")).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    w5 = w.rowsBetween(-(ROLL_WIN - 1), 0)
    out = daily.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "x",
        F.sort_array(F.collect_list("x").over(w5))
        .getItem(ROLL_WIN // 2)
        .alias("med5"),
        F.row_number().over(w).alias("rn"),
    )
    return out.filter(F.col("rn") >= ROLL_WIN).drop("rn")


QUERIES["rel_rolling_median"] = rel_rolling_median
ORACLES["rel_rolling_median"] = f"""
WITH d0 AS (SELECT event_type, epoch_us(ts) // {US_PER_DAY} AS day,
    floor(avg(value) * 1e6 + 0.5) / 1e6 AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
win AS (SELECT event_type, day, x,
    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
      ROWS BETWEEN {ROLL_WIN - 1} PRECEDING AND CURRENT ROW))
      [{ROLL_WIN // 2 + 1}] AS med5,
    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM d0)
SELECT event_type, CAST(day AS BIGINT) AS day, x, med5
FROM win WHERE rn >= {ROLL_WIN}
"""


def rel_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLO audit — per event type: latest event time,
    lag behind the table's global high-water mark, and volume in the
    trailing day before that mark.  The first page of every pipeline
    ops dashboard; a type whose lag suddenly grows has a stuck
    producer.

    One mergeable aggregate to the |types| grid; the global high-water
    mark joins back as a 1-row broadcast.  Times are integer epoch-µs
    (rule 2: never emit timestamp-typed columns)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", ts_us().alias("t_us")
    )
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("t_us").cast("long").alias("latest_us"),
    )
    hwm = ev.agg(F.max("t_us").alias("hwm_us"))
    last_day = ev.crossJoin(F.broadcast(hwm)).filter(
        F.col("t_us") > F.col("hwm_us") - US_PER_DAY
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_last_day")
    )
    return (
        per_type.crossJoin(F.broadcast(hwm))
        .join(last_day, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "latest_us",
            (F.col("hwm_us") - F.col("latest_us")).cast("long").alias("lag_us"),
            F.coalesce("n_last_day", F.lit(0)).cast("long").alias("n_last_day"),
        )
    )


QUERIES["rel_freshness_audit"] = rel_freshness_audit
ORACLES["rel_freshness_audit"] = f"""
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us FROM events),
hwm AS (SELECT max(t_us) AS hwm_us FROM e),
pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
    CAST(max(t_us) AS BIGINT) AS latest_us FROM e GROUP BY 1),
ld AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_last_day
  FROM e CROSS JOIN hwm WHERE t_us > hwm_us - {US_PER_DAY} GROUP BY 1)
SELECT pt.event_type, n_events, latest_us,
  CAST(hwm_us - latest_us AS BIGINT) AS lag_us,
  CAST(coalesce(n_last_day, 0) AS BIGINT) AS n_last_day
FROM pt CROSS JOIN hwm LEFT JOIN ld ON pt.event_type = ld.event_type
"""


def rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier, minimizing both dimensions) —
    the multi-objective "best tradeoffs" query classic SQL engines
    lack as a primitive: a (price, quantity) point survives iff no
    other point is ≤ in both dimensions and < in at least one.

    The naive formulation is an O(n²) self-join; the 2-D skyline
    instead lowers to ONE running-min window: collapse to min price
    per quantity, sort by quantity ascending, keep rows strictly
    below every predecessor's price.  That is a |distinct quantities|
    grid (bounded: 50 here), so the deliberately-global window is a
    constant-size stage — the d>2 generalization partitions on a
    grid prefix.  Integer cents avoid float equality on the
    dominance boundary."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias(
            "price_c"
        ),
    )
    per_q = li.groupBy("qty").agg(F.min("price_c").alias("best_price_c"))
    w = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, -1)
    x = per_q.select(
        "qty",
        "best_price_c",
        F.min("best_price_c").over(w).alias("prev_best"),
    )
    return x.filter(
        F.col("prev_best").isNull() | (F.col("best_price_c") < F.col("prev_best"))
    ).select(
        "qty", F.col("best_price_c").alias("price_cents")
    )


QUERIES["rel_skyline"] = rel_skyline
ORACLES["rel_skyline"] = """
WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM lineitem),
per_q AS (SELECT qty, min(price_c) AS best_price_c FROM li GROUP BY qty),
x AS (SELECT qty, best_price_c,
    min(best_price_c) OVER (ORDER BY qty
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
  FROM per_q)
SELECT qty, best_price_c AS price_cents
FROM x WHERE prev_best IS NULL OR best_price_c < prev_best
"""


KS_BINS = 128


def ml_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the reference
    and live value distributions (hash-split on event_id) — the
    distribution-drift companion to ml_psi_drift, sensitive to shape
    shifts PSI's coarse bins miss.

    Production KS at scale runs on BINNED empirical CDFs, not a
    global sort of raw values: one pass finds the global [min, max]
    (1-row broadcast), one pass bins both splits onto the fixed
    KS_BINS grid, and the D statistic is a max over the bounded
    grid's cumulative sums.  Bin width uses a nullif guard for the
    degenerate all-equal-values corpus (D = 0 via the single-bin
    path on both engines)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "value",
        (hex_int(F.md5(F.col("event_id").cast("string"))) % 2).alias("split"),
    )
    rng = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "split",
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / F.nullif((F.col("hi") - F.col("lo")) / KS_BINS, F.lit(0.0))
            ),
            F.lit(KS_BINS - 1),
        )
        .cast("long")
        .alias("bin"),
    ).select("split", F.coalesce("bin", F.lit(0)).alias("bin"))
    g = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("split") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("split") == 1, 1).otherwise(0)).alias("n_b"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    # nullif-guard the split totals: an entirely-empty split would be
    # double/0 — an ERROR under Spark ANSI but inf in DuckDB (ADVICE
    # r4).  NULL CDFs make gap/ks_d NULL identically in both engines.
    tot_a = F.nullif(F.sum("n_a").over(wt).cast("double"), F.lit(0.0))
    tot_b = F.nullif(F.sum("n_b").over(wt).cast("double"), F.lit(0.0))
    cdf_a = F.sum("n_a").over(w) / tot_a
    cdf_b = F.sum("n_b").over(w) / tot_b
    x = g.select(
        F.col("n_a"),
        F.col("n_b"),
        round6(F.abs(cdf_a - cdf_b)).alias("gap"),
    )
    return x.agg(
        F.sum("n_a").cast("long").alias("n_ref"),
        F.sum("n_b").cast("long").alias("n_live"),
        F.max("gap").alias("ks_d"),
    )


QUERIES["ml_ks_test"] = ml_ks_test
ORACLES["ml_ks_test"] = f"""
WITH ev AS (SELECT value,
    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 2
      AS split
  FROM events WHERE value IS NOT NULL),
rng AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
b AS (SELECT split,
    coalesce(least(CAST(floor((value - lo)
        / nullif((hi - lo) / {KS_BINS}, 0.0)) AS BIGINT),
      {KS_BINS - 1}), 0) AS bin
  FROM ev CROSS JOIN rng),
g AS (SELECT bin,
    sum(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS n_a,
    sum(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS n_b
  FROM b GROUP BY bin),
x AS (SELECT n_a, n_b,
    floor(abs(
      CAST(sum(n_a) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / nullif(CAST(sum(n_a) OVER () AS DOUBLE), 0.0)
      - CAST(sum(n_b) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / nullif(CAST(sum(n_b) OVER () AS DOUBLE), 0.0)) * 1e6 + 0.5) / 1e6
      AS gap
  FROM g)
SELECT CAST(sum(n_a) AS BIGINT) AS n_ref, CAST(sum(n_b) AS BIGINT) AS n_live,
  max(gap) AS ks_d
FROM x
"""


def rel_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-event curve with RIGHT-CENSORING — the
    survival-analysis staple SQL engines lack as a primitive, here
    estimating time-to-RETURN for order lines: a returned line
    (l_returnflag = 'R') is an observed event at its ship delay
    (days from order to ship); a non-returned line says only "no
    return for at least that long" — the censored observation KM
    uses correctly where a naive mean-of-returns would bias low.

    S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) evaluated in the log domain as
    one ordered cumulative window over the bounded distinct-duration
    grid (n_i = at-risk = survivors of all earlier durations; the
    cumulative ln-sum runs in the SAME ascending order in both
    engines, so the IEEE sequence matches).  A terminal row where
    every remaining at-risk subject dies is pinned to S = 0
    explicitly — ln(0) is engine-hostile, so a cumulative
    full-death flag replaces the term.  The fact join reduces to the
    |durations| grid in one aggregate pass; all windows run on that
    bounded grid.  (The synthetic fixture draws ship and order dates
    independently, so durations include negative values — KM only
    needs an ordered time index, and the curve is well-defined over
    it.)"""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), "o_orderdate"
    )
    u = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("dur"),
        (F.col("l_returnflag") != "R").cast("long").alias("censored"),
    )
    g = u.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(1 - F.col("censored")).alias("d"),
        F.sum("censored").alias("n_censored"),
    )
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    n_risk = F.sum("n_all").over(wt) - F.coalesce(
        F.sum("n_all").over(w_prev), F.lit(0)
    )
    x = g.select(
        "dur",
        "d",
        "n_censored",
        n_risk.alias("n_risk"),
    )
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1.0 - F.col("d") / F.col("n_risk")),
    )
    dead = F.max((F.col("d") >= F.col("n_risk")).cast("long")).over(w_cum)
    return x.select(
        F.col("dur").cast("long").alias("dur"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.when(dead == 1, F.lit(0.0))
        .otherwise(round6(F.exp(F.sum(term).over(w_cum))))
        .alias("survival"),
    )


QUERIES["rel_survival_km"] = rel_survival_km
ORACLES["rel_survival_km"] = """
WITH u AS (SELECT
    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      AS dur,
    CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END AS censored
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
g AS (SELECT dur, count(*) AS n_all, sum(1 - censored) AS d,
    sum(censored) AS n_censored FROM u GROUP BY 1),
x AS (SELECT dur, d, n_censored,
    sum(n_all) OVER () - coalesce(sum(n_all) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM g)
SELECT CAST(dur AS BIGINT) AS dur, CAST(n_risk AS BIGINT) AS n_risk,
  CAST(d AS BIGINT) AS d, CAST(n_censored AS BIGINT) AS n_censored,
  CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
    THEN 0.0
    ELSE floor(exp(sum(CASE WHEN d < n_risk
        THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) END) OVER (ORDER BY dur
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e6 + 0.5) / 1e6
  END AS survival
FROM x
"""


def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the deterministic score
    ml_calibration_bins diagnoses: fit the least-squares NON-DECREASING
    map score → P(positive) — the production calibrator (PAV) next to
    the reliability diagram (diagnosis) and Platt scaling (parametric).

    Instead of the sequential pool-adjacent-violators sweep (data-
    dependent merges — not relational), this computes the identical
    fit via PAV's closed-form minimax characterization
        iso(i) = max_{j ≤ i} min_{k ≥ i} mean(y[j..k]),
    which is pure joins/aggregates and therefore fully DuckDB-oracled.

    Scale: the corpus collapses to the DISTINCT-score grid first (the
    discount score takes 11 values; a continuous score would be
    quantile-binned to a fixed grid exactly like ml_ks_test's 128
    bins) — ONE bounded-state aggregate pass over the fact table, then
    every window/join below runs on the ≤11-row grid (bounded-grid
    rule), where the O(grid³) minimax enumeration is ~200 rows.
    Interval means are ratios of BIGINT prefix sums — identical
    doubles cross-engine, no float accumulation (rule 9).

    Tests pin the two PAV invariants: iso is non-decreasing in the
    score, and pooling preserves total mass (Σ n·iso = Σ positives)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("k"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    g = li.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    pre = g.select(
        "k",
        "n",
        "pos",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("pos").over(w).cast("long").alias("cp"),
    )
    a = pre.select(
        F.col("k").alias("jk"),
        (F.col("cn") - F.col("n")).alias("nb"),
        (F.col("cp") - F.col("pos")).alias("pb"),
    )
    b = pre.select(F.col("k").alias("kk"), "cn", "cp")
    pairs = a.join(b, F.col("jk") <= F.col("kk")).select(
        "jk",
        "kk",
        (
            (F.col("cp") - F.col("pb"))
            / (F.col("cn") - F.col("nb")).cast("double")
        ).alias("avg_jk"),
    )
    mid = pre.select(F.col("k").alias("ik"))
    mn = (
        pairs.join(
            mid, (F.col("jk") <= F.col("ik")) & (F.col("ik") <= F.col("kk"))
        )
        .groupBy("jk", "ik")
        .agg(F.min("avg_jk").alias("mn"))
    )
    iso = mn.groupBy("ik").agg(F.max("mn").alias("iso"))
    result = (
        pre.join(iso, pre.k == iso.ik)
        .select(
            "k",
            "n",
            round6(F.col("pos") / F.col("n").cast("double")).alias("pos_rate"),
            round6(F.col("iso")).alias("iso_rate"),
        )
    )
    return result


QUERIES["ml_isotonic_calibration"] = ml_isotonic_calibration
ORACLES["ml_isotonic_calibration"] = """
WITH li AS (SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS k,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
g AS (SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM li GROUP BY 1),
pre AS (SELECT k, n, pos,
    CAST(sum(n) OVER (ORDER BY k
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
    CAST(sum(pos) OVER (ORDER BY k
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
  FROM g),
pairs AS (SELECT a.k AS jk, b.k AS kk,
    (b.cp - (a.cp - a.pos)) / CAST(b.cn - (a.cn - a.n) AS DOUBLE) AS avg_jk
  FROM pre a JOIN pre b ON a.k <= b.k),
mn AS (SELECT p.jk, i.k AS ik, min(p.avg_jk) AS mn
  FROM pairs p JOIN pre i ON p.jk <= i.k AND i.k <= p.kk
  GROUP BY 1, 2),
iso AS (SELECT ik, max(mn) AS iso FROM mn GROUP BY 1)
SELECT pre.k, pre.n,
  floor(pre.pos / CAST(pre.n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS pos_rate,
  floor(iso.iso * 1e6 + 0.5) / 1e6 AS iso_rate
FROM pre JOIN iso ON pre.k = iso.ik
"""


VIT_DAYS = 8  # bounded daily grid (the udf_holt/udf_dtw window)
VIT_SWITCH = 2  # integer state-switch penalty (count units)


def rel_viterbi_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Viterbi sequence labeling over the first VIT_DAYS days
    of activity: decode each user's most-likely latent LOW/HIGH
    activity state path under integer emission costs |count − level_s|
    and a flat switch penalty — the HMM max-product decode next to
    udf_holt_smooth (smoothing) and udf_dtw_profile (alignment), but
    needing NO Arrow lane at all.

    The trick is the layout: the (user, day) grid pivots WIDE first
    (8 conditional-sum columns in the one groupBy shuffle), and the
    whole 8-step × 2-state DP — running costs v0/v1 plus the decoded
    path packed into an integer bitmask (path·2 + state per day, day 0
    at the high bit) — is then pure whole-stage-codegen column
    arithmetic: ONE exchange total at any corpus size, no joins, no
    per-row Python.  Ties prefer the lower previous state (<=), making
    the decoded path unique and cross-engine identical.

    Everything is BIGINT (counts, |·| emissions, packed paths) except
    the level derivation — levels are floor-rounded halves of the
    global per-user-day mean (a ratio of two BIGINTs, identical
    doubles both engines) — so no rounding subtleties anywhere.
    tests/test_viterbi.py replays the DP in pure Python from the same
    collected counts and asserts exact equality (the Kruskal-style
    algorithmic cross-check)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", ts_bucket(US_PER_DAY).alias("day")
    )
    min_day = ev.agg(F.min("day").alias("d0"))
    w = (
        ev.crossJoin(F.broadcast(min_day))
        .withColumn("di", (F.col("day") - F.col("d0")).cast("long"))
        .filter(F.col("di") < VIT_DAYS)
        .groupBy("user_id")
        .agg(
            *[
                F.sum(F.when(F.col("di") == t, 1).otherwise(0))
                .cast("long")
                .alias(f"c{t}")
                for t in range(VIT_DAYS)
            ]
        )
    )
    tot = sum((F.col(f"c{t}") for t in range(1, VIT_DAYS)), F.col("c0"))
    lv = w.agg(
        (F.sum(tot).cast("double") / (F.count(F.lit(1)) * VIT_DAYS).cast("double")).alias("mu")
    ).select(
        F.floor(F.col("mu") / 2 + 0.5).cast("long").alias("lo"),
        F.floor(F.col("mu") * 3 / 2 + 0.5).cast("long").alias("hi"),
    )
    d = w.crossJoin(F.broadcast(lv))

    def em(t, lev):
        return F.abs(F.col(f"c{t}") - F.col(lev))

    d = d.withColumns(
        {
            "v0": em(0, "lo"),
            "v1": em(0, "hi"),
            "p0": F.lit(0).cast("long"),
            "p1": F.lit(1).cast("long"),
        }
    )
    for t in range(1, VIT_DAYS):
        c00, c10 = F.col("v0"), F.col("v1") + VIT_SWITCH  # into state 0
        c01, c11 = F.col("v0") + VIT_SWITCH, F.col("v1")  # into state 1
        d = d.withColumns(
            {
                "nv0": F.least(c00, c10) + em(t, "lo"),
                "np0": F.when(c00 <= c10, F.col("p0") * 2).otherwise(
                    F.col("p1") * 2
                ),
                "nv1": F.least(c01, c11) + em(t, "hi"),
                "np1": F.when(c01 <= c11, F.col("p0") * 2 + 1).otherwise(
                    F.col("p1") * 2 + 1
                ),
            }
        ).select(
            "user_id",
            *[f"c{i}" for i in range(VIT_DAYS)],
            "lo",
            "hi",
            F.col("nv0").alias("v0"),
            F.col("nv1").alias("v1"),
            F.col("np0").alias("p0"),
            F.col("np1").alias("p1"),
        )
    return d.select(
        "user_id",
        F.least("v0", "v1").cast("long").alias("vit_cost"),
        F.when(F.col("v0") <= F.col("v1"), F.col("p0"))
        .otherwise(F.col("p1"))
        .cast("long")
        .alias("path_mask"),
        F.bit_count(
            F.when(F.col("v0") <= F.col("v1"), F.col("p0")).otherwise(F.col("p1"))
        )
        .cast("long")
        .alias("n_high_days"),
    )


def _viterbi_oracle() -> str:
    # Each step CTE re-aliases v0/v1/p0/p1; inside one SELECT the
    # expressions must see the PREVIOUS step's columns.  DuckDB's
    # lateral-alias feature binds a name to a same-SELECT alias only
    # when the input relation does NOT carry that column — here it
    # does, so input-column precedence gives exactly the intended
    # semantics.
    cs = ", ".join(
        f"CAST(sum(CASE WHEN di = {t} THEN 1 ELSE 0 END) AS BIGINT) AS c{t}"
        for t in range(VIT_DAYS)
    )
    tot = " + ".join(f"c{t}" for t in range(VIT_DAYS))
    steps = []
    prev = "s0"
    for t in range(1, VIT_DAYS):
        steps.append(
            f"s{t} AS (SELECT user_id, {', '.join(f'c{i}' for i in range(VIT_DAYS))}, lo, hi,"
            f" least(v0, v1 + {VIT_SWITCH}) + abs(c{t} - lo) AS v0,"
            f" least(v0 + {VIT_SWITCH}, v1) + abs(c{t} - hi) AS v1,"
            f" CASE WHEN v0 <= v1 + {VIT_SWITCH} THEN p0 * 2 ELSE p1 * 2 END AS p0,"
            f" CASE WHEN v0 + {VIT_SWITCH} <= v1 THEN p0 * 2 + 1 ELSE p1 * 2 + 1 END AS p1"
            f" FROM {prev})"
        )
        prev = f"s{t}"
    return (
        f"WITH ev AS (SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS day"
        "   FROM events),"
        " w AS (SELECT user_id, " + cs + " FROM ("
        "   SELECT user_id, day - (SELECT min(day) FROM ev) AS di FROM ev)"
        f"  WHERE di < {VIT_DAYS} GROUP BY user_id),"
        " lv AS (SELECT"
        f"   CAST(floor(mu / 2 + 0.5) AS BIGINT) AS lo,"
        f"   CAST(floor(mu * 3 / 2 + 0.5) AS BIGINT) AS hi"
        f"   FROM (SELECT CAST(sum({tot}) AS DOUBLE)"
        f"     / (count(*) * {VIT_DAYS}) AS mu FROM w)),"
        " s0 AS (SELECT user_id,"
        + ", ".join(f"c{i}" for i in range(VIT_DAYS))
        + ", lo, hi,"
        "   abs(c0 - lo) AS v0, abs(c0 - hi) AS v1,"
        "   CAST(0 AS BIGINT) AS p0, CAST(1 AS BIGINT) AS p1"
        "   FROM w CROSS JOIN lv),"
        + ",".join(steps)
        + " SELECT user_id, CAST(least(v0, v1) AS BIGINT) AS vit_cost,"
        " CAST(CASE WHEN v0 <= v1 THEN p0 ELSE p1 END AS BIGINT) AS path_mask,"
        " CAST(bit_count(CASE WHEN v0 <= v1 THEN p0 ELSE p1 END) AS BIGINT)"
        "   AS n_high_days"
        f" FROM {prev}"
    )


QUERIES["rel_viterbi_states"] = rel_viterbi_states
ORACLES["rel_viterbi_states"] = _viterbi_oracle()


EWMA_LOOKBACK = 7  # trailing decay horizon (days)


def rel_ewma_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA anomaly monitor: each (event_type, day) cell's revenue
    cents vs the exponentially-weighted mean of its trailing
    EWMA_LOOKBACK days — the classic ops-metrics spike detector.

    The usual recursive EWMA is replaced by the bounded CLOSED FORM:
    decay (3/4)^d over a ≤7-day horizon, with INTEGER weights
    w_d = 3^d * 4^(7-d) (the common 4^7 denominator cancels in
    num/den), so numerator and denominator are exact BIGINT sums in
    any order — the whole computation has exactly ONE double
    division per cell (rule 9 without needing a recurrence at all).
    pow() only sees tiny integer args (the audited-safe subset).

    Scale: the corpus collapses to the |types| x |days| grid in one
    aggregate; the trailing-window pair join and everything after run
    on that bounded grid.  First days emit NULL (no history) — NULL
    propagates identically in both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        ts_bucket(US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.sum("cents").cast("long").alias("cents")
    )
    k = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("kday"),
        F.col("cents").alias("kcents"),
    )
    d = F.col("day") - F.col("kday")
    w = F.floor(F.pow(F.lit(3), d) * F.pow(F.lit(4), EWMA_LOOKBACK - d) + 0.5)
    pairs = daily.join(
        k,
        (F.col("event_type") == F.col("et2"))
        & (F.col("kday") >= F.col("day") - EWMA_LOOKBACK)
        & (F.col("kday") <= F.col("day") - 1),
        "left",
    )
    agg = pairs.groupBy("event_type", "day", "cents").agg(
        F.sum(w * F.col("kcents")).alias("num"),
        F.sum(w).alias("den"),
    )
    ewma = F.col("num") / F.col("den")
    return agg.select(
        "event_type",
        "day",
        "cents",
        round6(ewma).alias("ewma_hist"),
        F.floor(
            (F.col("cents") - ewma) / F.nullif(ewma, F.lit(0.0)) * 1e6 + 0.5
        ).alias("dev_ppm"),
    )


QUERIES["rel_ewma_trend"] = rel_ewma_trend
ORACLES["rel_ewma_trend"] = f"""
WITH e AS (SELECT event_type, epoch_us(ts) // {US_PER_DAY} AS day,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
daily AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS cents
  FROM e GROUP BY 1, 2),
agg AS (SELECT t.event_type, t.day, t.cents,
    CAST(SUM(CAST(floor(pow(3, t.day - k.day)
      * pow(4, {EWMA_LOOKBACK} - (t.day - k.day)) + 0.5) AS BIGINT)
      * k.cents) AS BIGINT) AS num,
    CAST(SUM(CAST(floor(pow(3, t.day - k.day)
      * pow(4, {EWMA_LOOKBACK} - (t.day - k.day)) + 0.5) AS BIGINT))
      AS BIGINT) AS den
  FROM daily t LEFT JOIN daily k
    ON t.event_type = k.event_type
    AND k.day >= t.day - {EWMA_LOOKBACK} AND k.day <= t.day - 1
  GROUP BY 1, 2, 3)
SELECT event_type, day, cents,
  floor(num / den * 1e6 + 0.5) / 1e6 AS ewma_hist,
  CAST(floor((cents - num / den) / nullif(num / den, 0.0) * 1e6 + 0.5)
    AS BIGINT) AS dev_ppm
FROM agg
"""


OLS_FRAME = 7  # rolling regression window (odd — rule 10 spirit)


def rel_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day least-squares trend: per event type, the OLS
    slope (and intercept) of daily revenue cents over the trailing
    OLS_FRAME days — moving trend estimation, the regression upgrade
    of a moving average.

    Everything before the final division is INTEGER: x = day index,
    y = integer cents, and the frame sums (sx, sy, sxy, sxx) are
    BIGINT window sums, so slope = (n*sxy - sx*sy)/(n*sxx - sx*sx)
    is one IEEE division of exact integers — no float-order risk.
    The denominator n*sxx - sx^2 = n * sum((x - mean)^2) > 0 always
    (the frame holds n >= 2 DISTINCT days), so ANSI needs no guard;
    only full 7-row frames are emitted (boundary frames are the
    even-length-median trap of rule 10).

    Scale: one aggregate collapses the corpus to the bounded daily
    grid; the window partitions by event_type over it."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        ts_bucket(US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.sum("cents").cast("long").alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(OLS_FRAME - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("day").over(w)
    sy = F.sum("cents").over(w)
    sxy = F.sum(F.col("day") * F.col("cents")).over(w)
    sxx = F.sum(F.col("day") * F.col("day")).over(w)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return (
        daily.select(
            "event_type",
            "day",
            "cents",
            n.alias("n"),
            round6(slope).alias("slope7"),
            round6(intercept).alias("intercept7"),
        )
        .filter(F.col("n") == OLS_FRAME)
        .select(
            "event_type", "day", "cents", "slope7", "intercept7"
        )
    )


QUERIES["rel_rolling_ols"] = rel_rolling_ols
ORACLES["rel_rolling_ols"] = f"""
WITH e AS (SELECT event_type, epoch_us(ts) // {US_PER_DAY} AS day,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
daily AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS cents
  FROM e GROUP BY 1, 2),
win AS (SELECT event_type, day, cents,
    CAST(count(*) OVER w AS BIGINT) AS n,
    CAST(sum(day) OVER w AS BIGINT) AS sx,
    CAST(sum(cents) OVER w AS BIGINT) AS sy,
    CAST(sum(day * cents) OVER w AS BIGINT) AS sxy,
    CAST(sum(day * day) OVER w AS BIGINT) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
    ROWS BETWEEN {OLS_FRAME - 1} PRECEDING AND CURRENT ROW))
SELECT event_type, day, cents,
  floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
    AS slope7,
  floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 1e6
    + 0.5) / 1e6 AS intercept7
FROM win WHERE n = {OLS_FRAME}
"""


def rel_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer order spend within each market
    segment — the inequality/concentration audit run before weighting
    or rebalancing a corpus (identical math to token-count inequality
    across domains in a training mix).

    Closed form on the ascending-rank decomposition:
    G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n with i the 1-based rank.  Spend
    is integer cents, so Σx and Σ(i·x) are exact BIGINTs (bounded:
    rank ≤ |segment| and cents·rank ≈ 2e15 at sf1, < 2^63; at ~1e8+
    customers/segment rescale cents→dollars first), and the Gini is
    two IEEE divisions of exact integers — no float-order anywhere.
    Rank ties broken by c_custkey (rule 5; equal spends contribute
    the same Σ(i·x) under any permutation of tied ranks, so the
    tie-break only pins the plan, not the value).

    Scale: orders aggregate per customer (one custkey shuffle,
    map-side combined), the rank window shuffles per segment, and the
    final aggregate is |segments| rows."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.floor(F.col("o_totalprice") * 100 + 0.5).alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    spend = (
        o.groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("spend"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("spend", "c_custkey")
    ranked = spend.select(
        "c_mktsegment", "spend", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").cast("long").alias("total_cents"),
        F.sum(F.col("i") * F.col("spend")).cast("long").alias("six"),
    )
    gini = (
        F.lit(2.0) * F.col("six")
        / (F.col("n_customers") * F.col("total_cents")).cast("double")
        - (F.col("n_customers") + F.lit(1)).cast("double")
        / F.col("n_customers").cast("double")
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        "total_cents",
        round6(gini).alias("gini"),
    )


QUERIES["rel_gini"] = rel_gini
ORACLES["rel_gini"] = """
WITH spend AS (
  SELECT c.c_mktsegment, c.c_custkey,
    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS spend
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (SELECT c_mktsegment, spend,
    row_number() OVER (PARTITION BY c_mktsegment
      ORDER BY spend, c_custkey) AS i
  FROM spend),
agg AS (SELECT c_mktsegment,
    CAST(count(*) AS BIGINT) AS n_customers,
    CAST(sum(spend) AS BIGINT) AS total_cents,
    CAST(sum(i * spend) AS BIGINT) AS six
  FROM ranked GROUP BY 1)
SELECT c_mktsegment, n_customers, total_cents,
  floor((2.0 * six / CAST(n_customers * total_cents AS DOUBLE)
    - CAST(n_customers + 1 AS DOUBLE) / CAST(n_customers AS DOUBLE))
    * 1e6 + 0.5) / 1e6 AS gini
FROM agg
"""


def rel_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation (0..10000 points) — the standard market-concentration
    index, and the shape of per-source share-of-corpus audits.

    Determinism (rule 9): each supplier's squared share is ONE
    division of exact BIGINT cents followed by one multiply, then
    floor-scaled to an integer at 1e12 — the per-nation total is an
    exact BIGINT sum of those integers (shares² sum to ≤ 1, so the
    total is ≤ 1e12), and the final index is a single /100.0.

    Scale: revenue aggregates per supplier (one suppkey shuffle,
    map-side combined); supplier→nation is a broadcast dim join; the
    share window runs over |suppliers-per-nation| bounded groups."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).alias("cents"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum("cents").cast("long").alias("rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    tot = F.sum("rev").over(Window.partitionBy("nation"))
    share = F.col("rev").cast("double") / tot.cast("double")
    term = F.floor(share * share * 1e12 + 0.5).cast("long")
    return (
        rev.select("nation", "rev", term.alias("t"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("rev").cast("long").alias("rev_cents"),
            (F.floor(F.sum("t").cast("double") / 100.0 + 0.5) / 1e6).alias(
                "hhi"
            ),
        )
    )


QUERIES["rel_hhi"] = rel_hhi
ORACLES["rel_hhi"] = """
WITH rev AS (
  SELECT n.n_name AS nation,
    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS rev
  FROM lineitem li
  JOIN supplier s ON li.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, li.l_suppkey),
terms AS (SELECT nation, rev,
    CAST(floor((CAST(rev AS DOUBLE)
        / CAST(sum(rev) OVER (PARTITION BY nation) AS DOUBLE))
      * (CAST(rev AS DOUBLE)
        / CAST(sum(rev) OVER (PARTITION BY nation) AS DOUBLE))
      * 1e12 + 0.5) AS BIGINT) AS t
  FROM rev)
SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
  CAST(sum(rev) AS BIGINT) AS rev_cents,
  floor(CAST(sum(t) AS DOUBLE) / 100.0 + 0.5) / 1e6 AS hhi
FROM terms GROUP BY nation
"""


def rel_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator over the daily revenue grid:
    the MEDIAN of all pairwise slopes (and the median-residual
    intercept) — the outlier-proof alternative to OLS trend, standard
    for drift monitoring where a single anomalous day wrecks the
    least-squares fit.

    Pair generation is the bounded-grid rule: the corpus collapses to
    ≤366 daily rows FIRST, pairs are grid², never corpus² (30 days →
    435 pairs at any corpus size).  Each slope is one IEEE division of
    exact BIGINT diffs (Δcents/Δdays).  The median avoids the engine
    interpolation trap (rule 10) by explicit rank selection: average
    the elements at ranks (n+1) div 2 and n div 2 + 1 (identical when
    n is odd), ordered by (slope, day_a, day_b) — a unique tie-break
    (rule 5), and averaging two doubles is a single identical IEEE op.
    The intercept repeats the trick on per-day residuals
    y_i − slope·x_i with x rebased to day − min(day)."""
    e = load_table(spark, sf_dir, "events").select(
        ts_bucket(US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).alias("cents"),
    )
    daily = e.groupBy("day").agg(F.sum("cents").cast("long").alias("y"))
    mn = daily.agg(F.min("day").alias("d0"))
    grid = daily.crossJoin(F.broadcast(mn)).select(
        (F.col("day") - F.col("d0")).cast("long").alias("x"), "y"
    )
    a = grid.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = grid.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("xa") < F.col("xb")).select(
        "xa",
        "xb",
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("xb") - F.col("xa")).cast("double")
        ).alias("slope"),
    )
    wp = Window.orderBy("slope", "xa", "xb")
    ranked = pairs.select(
        "slope",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"),
    )
    med = ranked.filter(
        (F.col("rn") == F.expr("(np + 1) div 2"))
        | (F.col("rn") == F.expr("np div 2 + 1"))
    ).agg(
        (F.sum("slope") / F.count(F.lit(1))).alias("ts_slope"),
        F.min("np").cast("long").alias("n_pairs"),
    )
    resid = grid.crossJoin(F.broadcast(med)).select(
        "ts_slope",
        "n_pairs",
        (F.col("y").cast("double") - F.col("ts_slope") * F.col("x").cast("double")).alias("r"),
        "x",
    )
    wr = Window.orderBy("r", "x")
    rr = resid.select(
        "ts_slope",
        "n_pairs",
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    )
    return rr.filter(
        (F.col("rn") == F.expr("(nd + 1) div 2"))
        | (F.col("rn") == F.expr("nd div 2 + 1"))
    ).agg(
        F.min("nd").cast("long").alias("n_days"),
        F.min("n_pairs").cast("long").alias("n_pairs"),
        round6(F.min("ts_slope")).alias("ts_slope_cents_per_day"),
        (F.floor((F.sum("r") / F.count(F.lit(1))) * 100 + 0.5) / 100).alias(
            "ts_intercept_cents"
        ),
    )


QUERIES["rel_theil_sen"] = rel_theil_sen
ORACLES["rel_theil_sen"] = f"""
WITH e AS (SELECT epoch_us(ts) // {US_PER_DAY} AS day,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y FROM e GROUP BY 1),
grid AS (SELECT CAST(day - (SELECT min(day) FROM daily) AS BIGINT) AS x, y
  FROM daily),
pairs AS (SELECT a.x AS xa, b.x AS xb,
    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM grid a JOIN grid b ON a.x < b.x),
ranked AS (SELECT slope,
    row_number() OVER (ORDER BY slope, xa, xb) AS rn,
    count(*) OVER () AS np
  FROM pairs),
med AS (SELECT sum(slope) / count(*) AS ts_slope,
    CAST(min(np) AS BIGINT) AS n_pairs
  FROM ranked WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1),
resid AS (SELECT m.ts_slope, m.n_pairs,
    CAST(g.y AS DOUBLE) - m.ts_slope * CAST(g.x AS DOUBLE) AS r, g.x
  FROM grid g CROSS JOIN med m),
rr AS (SELECT ts_slope, n_pairs, r,
    row_number() OVER (ORDER BY r, x) AS rn, count(*) OVER () AS nd
  FROM resid)
SELECT CAST(min(nd) AS BIGINT) AS n_days,
  CAST(min(n_pairs) AS BIGINT) AS n_pairs,
  floor(min(ts_slope) * 1e6 + 0.5) / 1e6 AS ts_slope_cents_per_day,
  floor((sum(r) / count(*)) * 100 + 0.5) / 100 AS ts_intercept_cents
FROM rr WHERE rn = (nd + 1) // 2 OR rn = nd // 2 + 1
"""


def rel_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline mean-shift changepoint over the daily revenue grid:
    the split k maximizing the weighted between-segment gap
    G_k = (n_L·n_R/n)·(mean_L − mean_R)² — the single-changepoint
    likelihood score (constant-variance Gaussian), the batch
    counterpart of stream_cusum.

    Every candidate split's score derives from exact BIGINT prefix
    sums (one cumulative window over the ≤366-row grid), means are in
    dollars (cents/100 folded into one division), and each score is
    the same short IEEE expression on both engines — so the argmax
    ordering is identical; ties break on the earlier day (rule 5).
    Scale: one corpus-collapsing aggregate, then window + rank over
    the bounded grid."""
    e = load_table(spark, sf_dir, "events").select(
        ts_bucket(US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).alias("cents"),
    )
    daily = e.groupBy("day").agg(F.sum("cents").cast("long").alias("y"))
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pre = daily.select(
        "day",
        F.sum("y").over(wc).cast("long").alias("s"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("k"),
        F.sum("y").over(wall).cast("long").alias("t"),
        F.count(F.lit(1)).over(wall).cast("long").alias("nd"),
    ).filter(F.col("k") < F.col("nd"))
    mean_l = F.col("s").cast("double") / (100.0 * F.col("k").cast("double"))
    mean_r = (F.col("t") - F.col("s")).cast("double") / (
        100.0 * (F.col("nd") - F.col("k")).cast("double")
    )
    weight = (F.col("k") * (F.col("nd") - F.col("k"))).cast("double") / F.col(
        "nd"
    ).cast("double")
    scored = pre.select(
        "day",
        "k",
        "nd",
        mean_l.alias("ml"),
        mean_r.alias("mr"),
        (weight * (mean_l - mean_r) * (mean_l - mean_r)).alias("score"),
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("day").asc())
    best = scored.select(
        "*", F.row_number().over(wr).alias("rn")
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("day").cast("long").alias("last_left_day"),
        F.col("k").alias("n_left"),
        (F.col("nd") - F.col("k")).cast("long").alias("n_right"),
        (F.floor(F.col("ml") * 100 + 0.5) / 100).alias("mean_left_dollars"),
        (F.floor(F.col("mr") * 100 + 0.5) / 100).alias("mean_right_dollars"),
        (F.floor(F.col("score") * 100 + 0.5) / 100).alias("gap_score"),
    )


QUERIES["rel_changepoint"] = rel_changepoint
ORACLES["rel_changepoint"] = f"""
WITH e AS (SELECT epoch_us(ts) // {US_PER_DAY} AS day,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y FROM e GROUP BY 1),
pre AS (SELECT day,
    CAST(sum(y) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
    CAST(sum(y) OVER () AS BIGINT) AS t,
    CAST(count(*) OVER () AS BIGINT) AS nd
  FROM daily),
scored AS (SELECT day, k, nd,
    CAST(s AS DOUBLE) / (100.0 * CAST(k AS DOUBLE)) AS ml,
    CAST(t - s AS DOUBLE) / (100.0 * CAST(nd - k AS DOUBLE)) AS mr,
    (CAST(k * (nd - k) AS DOUBLE) / CAST(nd AS DOUBLE))
      * (CAST(s AS DOUBLE) / (100.0 * CAST(k AS DOUBLE))
         - CAST(t - s AS DOUBLE) / (100.0 * CAST(nd - k AS DOUBLE)))
      * (CAST(s AS DOUBLE) / (100.0 * CAST(k AS DOUBLE))
         - CAST(t - s AS DOUBLE) / (100.0 * CAST(nd - k AS DOUBLE)))
      AS score
  FROM pre WHERE k < nd),
best AS (SELECT *, row_number() OVER (ORDER BY score DESC, day ASC) AS rn
  FROM scored)
SELECT CAST(day AS BIGINT) AS last_left_day, k AS n_left,
  CAST(nd - k AS BIGINT) AS n_right,
  floor(ml * 100 + 0.5) / 100 AS mean_left_dollars,
  floor(mr * 100 + 0.5) / 100 AS mean_right_dollars,
  floor(score * 100 + 0.5) / 100 AS gap_score
FROM best WHERE rn = 1
"""


def ml_mcc_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected classifier agreement over ml_confusion_matrix's
    cells (y = returned, p = discount ≥ 0.06): Matthews correlation,
    Cohen's kappa, and balanced accuracy — the metrics that stay
    honest under class imbalance, where raw accuracy flatters the
    majority-class predictor.

    Determinism: the four cells are exact BIGINT counts from ONE
    mergeable conditional-aggregate pass; every pairwise product
    (tp·tn, marginal·marginal, n²) stays < 2^63 at ≤3e9 rows; the MCC
    denominator multiplies four IEEE sqrt()s — sqrt is CORRECTLY
    ROUNDED by IEEE 754 (unlike ln/exp, which this repo bans), so
    both engines produce the identical double.  Degenerate margins
    (an all-one-class slice) nullif to NULL rather than raise under
    ANSI (rule 8)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.when(F.col("l_discount") >= 0.06, 1).otherwise(0).alias("p"),
    )
    cells = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y") * F.col("p")).cast("long").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("p")).cast("long").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("p"))).cast("long").alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("p"))).cast("long").alias("tn"),
    )
    num = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast("double")
    den = (
        F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
    )
    po = (F.col("tp") + F.col("tn")).cast("double") / F.col("n").cast("double")
    pe = (
        (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))
        + (F.col("fn") + F.col("tn")) * (F.col("fp") + F.col("tn"))
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    tpr = F.col("tp").cast("double") / F.nullif(
        (F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0)
    )
    tnr = F.col("tn").cast("double") / F.nullif(
        (F.col("tn") + F.col("fp")).cast("double"), F.lit(0.0)
    )
    return cells.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        round6(num / F.nullif(den, F.lit(0.0))).alias("mcc"),
        (
            round6((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0)))
        ).alias("kappa"),
        round6((tpr + tnr) / 2.0).alias("balanced_acc"),
    )


QUERIES["ml_mcc_kappa"] = ml_mcc_kappa
ORACLES["ml_mcc_kappa"] = """
WITH c AS (SELECT
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
    CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END AS p
  FROM lineitem),
cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y * p) AS BIGINT) AS tp,
    CAST(sum((1 - y) * p) AS BIGINT) AS fp,
    CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
    CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
  FROM c)
SELECT n, tp, fp, fn, tn,
  floor(CAST(tp * tn - fp * fn AS DOUBLE)
    / nullif(sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
      * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)), 0.0)
    * 1e6 + 0.5) / 1e6 AS mcc,
  floor((CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE)
      - CAST((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) AS DOUBLE)
        / CAST(n * n AS DOUBLE))
    / nullif(1.0 - CAST((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)
        AS DOUBLE) / CAST(n * n AS DOUBLE), 0.0)
    * 1e6 + 0.5) / 1e6 AS kappa,
  floor((CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)
      + CAST(tn AS DOUBLE) / nullif(CAST(tn + fp AS DOUBLE), 0.0)) / 2.0
    * 1e6 + 0.5) / 1e6 AS balanced_acc
FROM cells
"""


def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy reliability/resolution/uncertainty
    decomposition over the 10-bin calibration grid — the probabilistic
    extension of ml_calibration_bins (which reports per-bin gaps; this
    reports the corpus-level attribution: how much error is
    miscalibration vs how much discrimination the score recovers).

    FULLY integer until the final divisions: the score s = discount·10
    is carried as the exact integer disc_m = floor(discount·100+0.5) ∈
    0..10, so the Brier numerator Σ(disc_m − 10y)² and every bin's
    (n_k, Σdisc_m, Σy) are exact BIGINTs from one groupBy pass.
    Per-bin decomposition terms are floor-scaled to 1e9 integers
    before the 10-row sum (rule 9's round-then-sum).  Bin 9 pools the
    two top scores, so the decomposition identity carries a small
    within-bin variance residual — reported as decomp_gap (exactly 0
    only when scores are constant within every bin)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("dm"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    bins = li.select(
        F.least(F.col("dm"), F.lit(9)).alias("bin"), "dm", "y"
    ).groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("dm").cast("long").alias("sd"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("dm") - 10 * F.col("y")) * (F.col("dm") - 10 * F.col("y")))
        .cast("long")
        .alias("sq"),
    )
    wall = Window.partitionBy()
    n = F.sum("nk").over(wall).cast("long")
    ypos = F.sum("sy").over(wall).cast("long")
    sbar = F.col("sd").cast("double") / (10.0 * F.col("nk").cast("double"))
    ybar_k = F.col("sy").cast("double") / F.col("nk").cast("double")
    ybar = ypos.cast("double") / n.cast("double")
    rel_t = F.floor(
        F.col("nk").cast("double") * (sbar - ybar_k) * (sbar - ybar_k) * 1e9
        + 0.5
    ).cast("long")
    res_t = F.floor(
        F.col("nk").cast("double") * (ybar_k - ybar) * (ybar_k - ybar) * 1e9
        + 0.5
    ).cast("long")
    terms = bins.select(
        "nk",
        "sq",
        n.alias("n"),
        ypos.alias("ypos"),
        rel_t.alias("rel_t"),
        res_t.alias("res_t"),
    )
    agg = terms.groupBy("n", "ypos").agg(
        F.sum("sq").cast("long").alias("ssq"),
        F.sum("rel_t").cast("long").alias("srel"),
        F.sum("res_t").cast("long").alias("sres"),
    )
    brier = agg["ssq"].cast("double") / (100.0 * agg["n"].cast("double"))
    rel = agg["srel"].cast("double") / 1e9 / agg["n"].cast("double")
    res = agg["sres"].cast("double") / 1e9 / agg["n"].cast("double")
    yb = agg["ypos"].cast("double") / agg["n"].cast("double")
    unc = yb * (F.lit(1.0) - yb)
    return agg.select(
        F.col("n"),
        round6(brier).alias("brier"),
        round6(rel).alias("reliability"),
        round6(res).alias("resolution"),
        round6(unc).alias("uncertainty"),
        round6(brier - (rel - res + unc)).alias("decomp_gap"),
    )


QUERIES["ml_brier_decomposition"] = ml_brier_decomposition
ORACLES["ml_brier_decomposition"] = """
WITH c AS (SELECT
    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dm,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
bins AS (SELECT least(dm, 9) AS bin,
    CAST(count(*) AS BIGINT) AS nk,
    CAST(sum(dm) AS BIGINT) AS sd,
    CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum((dm - 10 * y) * (dm - 10 * y)) AS BIGINT) AS sq
  FROM c GROUP BY 1),
terms AS (SELECT nk, sq,
    CAST(sum(nk) OVER () AS BIGINT) AS n,
    CAST(sum(sy) OVER () AS BIGINT) AS ypos,
    CAST(floor(CAST(nk AS DOUBLE)
      * (CAST(sd AS DOUBLE) / (10.0 * CAST(nk AS DOUBLE))
         - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
      * (CAST(sd AS DOUBLE) / (10.0 * CAST(nk AS DOUBLE))
         - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
      * 1e9 + 0.5) AS BIGINT) AS rel_t,
    CAST(floor(CAST(nk AS DOUBLE)
      * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
         - CAST(sum(sy) OVER () AS DOUBLE) / CAST(sum(nk) OVER () AS DOUBLE))
      * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
         - CAST(sum(sy) OVER () AS DOUBLE) / CAST(sum(nk) OVER () AS DOUBLE))
      * 1e9 + 0.5) AS BIGINT) AS res_t
  FROM bins),
agg AS (SELECT n, ypos,
    CAST(sum(sq) AS BIGINT) AS ssq,
    CAST(sum(rel_t) AS BIGINT) AS srel,
    CAST(sum(res_t) AS BIGINT) AS sres
  FROM terms GROUP BY 1, 2)
SELECT n,
  floor(CAST(ssq AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
    AS brier,
  floor(CAST(srel AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6
    AS reliability,
  floor(CAST(sres AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6
    AS resolution,
  floor((CAST(ypos AS DOUBLE) / CAST(n AS DOUBLE))
    * (1.0 - CAST(ypos AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
    AS uncertainty,
  floor((CAST(ssq AS DOUBLE) / (100.0 * CAST(n AS DOUBLE))
    - (CAST(srel AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)
       - CAST(sres AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)
       + (CAST(ypos AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0 - CAST(ypos AS DOUBLE) / CAST(n AS DOUBLE))))
    * 1e6 + 0.5) / 1e6 AS decomp_gap
FROM agg
"""


LC_BUCKETS = 16  # 15 cumulative train fractions + 1 held-out test bucket


def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-scaling learning curve — the 'does more data help'
    diagnostic every training pipeline runs before buying more
    compute: fit y = a + b·x (extendedprice dollars on quantity) on
    cumulative 1/16th fractions of the corpus and report each model's
    held-out MSE.

    ONE corpus pass total, regardless of how many fractions: rows
    hash into LC_BUCKETS md5 buckets (content-derived, rule 6); each
    bucket reduces to its exact BIGINT moment vector (n, Σx, Σy, Σxy,
    Σx², Σy²) in one mergeable aggregate; cumulative window sums over
    the bucket grid materialize every training fraction's moments;
    the OLS closed form and the held-out MSE are pure arithmetic on
    those moments — MSE(a,b) = E[y²] − 2aE[y] − 2bE[xy] + a² +
    2abE[x] + b²E[x²], so 'score 15 models on the test set' costs a
    15-row broadcast join, not 15 corpus passes.  At 100 TB: still
    one pass + a 16-row grid.

    Determinism: y is integer DOLLARS (cents would push Σy² past
    2^63); moments are exact BIGINTs CAST to double before the closed
    form, so both engines run the identical short IEEE sequence
    (rule 9).  The denominator n·Σx² − (Σx)² = n·Var(x)·n > 0 on any
    fraction holding ≥2 distinct quantities (the 1/16 md5 buckets of
    a TPC-H-shaped corpus always do; a degenerate fraction NULLs via
    nullif rather than raising, rule 8)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (
            hex_int(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                )
            )
            % LC_BUCKETS
        ).alias("bucket"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") + 0.5).alias("y"),
    )
    mom = li.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    test = mom.filter(F.col("bucket") == LC_BUCKETS - 1).select(
        F.col("n").alias("tn"),
        F.col("sx").alias("tsx"),
        F.col("sy").alias("tsy"),
        F.col("sxy").alias("tsxy"),
        F.col("sxx").alias("tsxx"),
        F.col("syy").alias("tsyy"),
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        mom.filter(F.col("bucket") < LC_BUCKETS - 1)
        .select(
            (F.col("bucket") + 1).cast("long").alias("frac_16ths"),
            F.sum("n").over(wc).cast("long").alias("n"),
            F.sum("sx").over(wc).cast("long").alias("sx"),
            F.sum("sy").over(wc).cast("long").alias("sy"),
            F.sum("sxy").over(wc).cast("long").alias("sxy"),
            F.sum("sxx").over(wc).cast("long").alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
        F.lit(0.0),
    )
    fitted = cum.select(
        "frac_16ths",
        F.col("n").alias("n_train"),
        slope.alias("b"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / nd
        ).alias("a"),
    )
    tnd = F.col("tn").cast("double")
    mse = (
        F.col("tsyy").cast("double") / tnd
        - 2.0 * F.col("a") * F.col("tsy").cast("double") / tnd
        - 2.0 * F.col("b") * F.col("tsxy").cast("double") / tnd
        + F.col("a") * F.col("a")
        + 2.0 * F.col("a") * F.col("b") * F.col("tsx").cast("double") / tnd
        + F.col("b") * F.col("b") * F.col("tsxx").cast("double") / tnd
    )
    return fitted.crossJoin(F.broadcast(test)).select(
        "frac_16ths",
        "n_train",
        round6(F.col("b")).alias("slope"),
        (F.floor(F.col("a") * 100 + 0.5) / 100).alias("intercept"),
        (F.floor(mse * 100 + 0.5) / 100).alias("test_mse"),
    )


QUERIES["ml_learning_curve"] = ml_learning_curve
ORACLES["ml_learning_curve"] = f"""
WITH rows_b AS (SELECT
    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
        || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % {LC_BUCKETS}
      AS bucket,
    CAST(l_quantity AS BIGINT) AS x,
    CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
  FROM lineitem),
mom AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
    CAST(sum(y * y) AS BIGINT) AS syy
  FROM rows_b GROUP BY 1),
test AS (SELECT n AS tn, sx AS tsx, sy AS tsy, sxy AS tsxy, sxx AS tsxx,
    syy AS tsyy FROM mom WHERE bucket = {LC_BUCKETS - 1}),
cum AS (SELECT CAST(bucket + 1 AS BIGINT) AS frac_16ths,
    CAST(sum(n) OVER w AS BIGINT) AS n,
    CAST(sum(sx) OVER w AS BIGINT) AS sx,
    CAST(sum(sy) OVER w AS BIGINT) AS sy,
    CAST(sum(sxy) OVER w AS BIGINT) AS sxy,
    CAST(sum(sxx) OVER w AS BIGINT) AS sxx
  FROM mom WHERE bucket < {LC_BUCKETS - 1}
  WINDOW w AS (ORDER BY bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
fitted AS (SELECT frac_16ths, n AS n_train,
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS b,
    (CAST(sy AS DOUBLE)
      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
        * CAST(sx AS DOUBLE))
      / CAST(n AS DOUBLE) AS a
  FROM cum)
SELECT frac_16ths, n_train,
  floor(b * 1e6 + 0.5) / 1e6 AS slope,
  floor(a * 100 + 0.5) / 100 AS intercept,
  floor((CAST(tsyy AS DOUBLE) / CAST(tn AS DOUBLE)
    - 2.0 * a * CAST(tsy AS DOUBLE) / CAST(tn AS DOUBLE)
    - 2.0 * b * CAST(tsxy AS DOUBLE) / CAST(tn AS DOUBLE)
    + a * a
    + 2.0 * a * b * CAST(tsx AS DOUBLE) / CAST(tn AS DOUBLE)
    + b * b * CAST(tsxx AS DOUBLE) / CAST(tn AS DOUBLE)) * 100 + 0.5) / 100
    AS test_mse
FROM fitted CROSS JOIN test
"""


def ml_threshold_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold sweep for the discount→returned classifier:
    for EVERY candidate threshold on the 11-point score grid, the full
    confusion matrix, precision/recall/F1, and a best-F1 flag — the
    operating-point selection pass run after training any scorer
    (ml_auc_roc integrates over thresholds; this picks one).

    One corpus pass: rows collapse onto the 11-value discount grid
    (exact integer counts), then REVERSE-cumulative window sums
    materialize every threshold's (tp, fp) simultaneously — the
    sweep costs |grid| window rows, not |grid| scans.  All counts are
    exact BIGINTs; precision/recall/F1 are nullif-guarded divisions
    of exact integers (rules 8/9); the best flag ranks (f1 DESC,
    threshold ASC) — rule 5 tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("dm"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    grid = li.groupBy("dm").agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum("y").cast("long").alias("pos_k"),
    )
    wrev = Window.orderBy(F.col("dm").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    swept = grid.select(
        F.col("dm").alias("thr_m"),
        F.sum("pos_k").over(wrev).cast("long").alias("tp"),
        (F.sum("n_k").over(wrev) - F.sum("pos_k").over(wrev))
        .cast("long")
        .alias("fp"),
        (F.sum("pos_k").over(wall) - F.sum("pos_k").over(wrev))
        .cast("long")
        .alias("fn"),
        (
            F.sum("n_k").over(wall)
            - F.sum("pos_k").over(wall)
            - (F.sum("n_k").over(wrev) - F.sum("pos_k").over(wrev))
        )
        .cast("long")
        .alias("tn"),
    )
    prec = F.col("tp").cast("double") / F.nullif(
        (F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0)
    )
    rec = F.col("tp").cast("double") / F.nullif(
        (F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0)
    )
    f1 = (
        2.0
        * F.col("tp").cast("double")
        / F.nullif(
            (
                2 * F.col("tp") + F.col("fp") + F.col("fn")
            ).cast("double"),
            F.lit(0.0),
        )
    )
    scored = swept.select(
        "thr_m",
        "tp",
        "fp",
        "fn",
        "tn",
        round6(prec).alias("precision"),
        round6(rec).alias("recall"),
        round6(f1).alias("f1"),
        f1.alias("_f1_raw"),
    )
    wbest = Window.orderBy(F.col("_f1_raw").desc(), F.col("thr_m").asc())
    return scored.select(
        "*", F.row_number().over(wbest).alias("rn")
    ).select(
        "thr_m",
        "tp",
        "fp",
        "fn",
        "tn",
        "precision",
        "recall",
        "f1",
        (F.col("rn") == 1).cast("long").alias("is_best"),
    )


QUERIES["ml_threshold_tuning"] = ml_threshold_tuning
ORACLES["ml_threshold_tuning"] = """
WITH c AS (SELECT
    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dm,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
grid AS (SELECT dm, CAST(count(*) AS BIGINT) AS n_k,
    CAST(sum(y) AS BIGINT) AS pos_k
  FROM c GROUP BY 1),
swept AS (SELECT dm AS thr_m,
    CAST(sum(pos_k) OVER wrev AS BIGINT) AS tp,
    CAST(sum(n_k) OVER wrev - sum(pos_k) OVER wrev AS BIGINT) AS fp,
    CAST(sum(pos_k) OVER () - sum(pos_k) OVER wrev AS BIGINT) AS fn,
    CAST(sum(n_k) OVER () - sum(pos_k) OVER ()
      - (sum(n_k) OVER wrev - sum(pos_k) OVER wrev) AS BIGINT) AS tn
  FROM grid
  WINDOW wrev AS (ORDER BY dm DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
scored AS (SELECT thr_m, tp, fp, fn, tn,
    floor(CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)
      * 1e6 + 0.5) / 1e6 AS precision,
    floor(CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)
      * 1e6 + 0.5) / 1e6 AS recall,
    floor(2.0 * CAST(tp AS DOUBLE)
      / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
      AS f1,
    2.0 * CAST(tp AS DOUBLE)
      / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0) AS _f1_raw
  FROM swept)
SELECT thr_m, tp, fp, fn, tn, precision, recall, f1,
  CAST(CASE WHEN row_number() OVER (ORDER BY _f1_raw DESC, thr_m ASC) = 1
    THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM scored
"""


BOOT_REPLICAS = 32
# Poisson(1) CDF cut points scaled to 2^32 (e^-1, 2e^-1, 2.5e^-1 sums):
# P(0)=.36787944, P(<=1)=.73575888, P(<=2)=.91969860 — integer
# literals so both engines quantize the md5 draw identically.
BOOT_T0 = 1_580_030_168
BOOT_T1 = 3_160_060_337
BOOT_T2 = 3_950_075_421


def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence intervals for per-priority mean order value
    via the POISSON BOOTSTRAP — the distributed-bootstrap trick: a
    classical resample needs n draws from a shared urn (impossible to
    coordinate across executors), but replica membership counts
    converge to independent Poisson(1) per row, so each row carries
    BOOT_REPLICAS deterministic Poisson weights derived from
    md5(orderkey, replica) and every replica's statistic is one
    weighted aggregate — ONE corpus pass for all 32 replicas, no
    resampling shuffle at any scale.

    Determinism: the md5 draw quantizes against integer 2^32-scaled
    CDF cut points (rule 6 content-derived randomness); weighted sums
    are exact BIGINT cents; each replica mean is one division; the CI
    picks replica-mean ranks 2 and 31 (≈ p5/p95 of B=32) by explicit
    rank selection — no interpolation (rule 10).  Scale: the explode
    is a bounded ×32 fan-out collapsed by the same map-side combine,
    never materialized."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).alias("cents"),
    )
    b = o.select(
        "o_orderpriority",
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPLICAS - 1))).alias("b"),
    )
    draw = hex_int(
        F.md5(
            F.concat_ws(
                "-",
                F.col("o_orderkey").cast("string"),
                F.col("b").cast("string"),
            )
        )
    )
    w = (
        F.when(draw < BOOT_T0, 0)
        .when(draw < BOOT_T1, 1)
        .when(draw < BOOT_T2, 2)
        .otherwise(3)
        .cast("long")
    )
    rep = b.select("o_orderpriority", "b", w.alias("w"), "cents").groupBy(
        "o_orderpriority", "b"
    ).agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("wsum"),
    )
    mean_b = F.col("wsum").cast("double") / (
        100.0 * F.nullif(F.col("n_eff").cast("double"), F.lit(0.0))
    )
    # NULL-ordering pin (ADVICE r8): mean_b is NULL when a replica's
    # Poisson weights are all zero (probability e^-n_orders — never at
    # shipped SFs, but Spark orders NULLs FIRST asc while DuckDB
    # defaults NULLS LAST).  Ranking on coalesce(mean_b, -inf) pins
    # both engines to the same order without touching the output value.
    wr = Window.partitionBy("o_orderpriority").orderBy(
        F.coalesce(F.col("mean_b"), F.lit(-1e308)).asc(), "b"
    )
    ranked = rep.select(
        "o_orderpriority", "b", mean_b.alias("mean_b")
    ).select("*", F.row_number().over(wr).alias("rn"))
    ci = ranked.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("lo"),
        F.min(F.when(F.col("rn") == BOOT_REPLICAS - 1, F.col("mean_b"))).alias(
            "hi"
        ),
    )
    point = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (
            F.sum("cents").cast("double")
            / (100.0 * F.count(F.lit(1)).cast("double"))
        ).alias("mean_value"),
    )
    return point.join(ci, "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        (F.floor(F.col("mean_value") * 100 + 0.5) / 100).alias("mean_value"),
        (F.floor(F.col("lo") * 100 + 0.5) / 100).alias("ci_lo"),
        (F.floor(F.col("hi") * 100 + 0.5) / 100).alias("ci_hi"),
    )


QUERIES["ml_bootstrap_ci"] = ml_bootstrap_ci
ORACLES["ml_bootstrap_ci"] = f"""
WITH o AS (SELECT o_orderkey, o_orderpriority,
    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
b AS (SELECT o.*, t.b FROM o, range({BOOT_REPLICAS}) t(b)),
wtab AS (SELECT o_orderpriority, b,
    CASE WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-'
          || CAST(b AS VARCHAR)), 1, 8))::BIGINT < {BOOT_T0} THEN 0
         WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-'
          || CAST(b AS VARCHAR)), 1, 8))::BIGINT < {BOOT_T1} THEN 1
         WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-'
          || CAST(b AS VARCHAR)), 1, 8))::BIGINT < {BOOT_T2} THEN 2
         ELSE 3 END AS w,
    cents
  FROM b),
rep AS (SELECT o_orderpriority, b,
    CAST(sum(w) AS BIGINT) AS n_eff,
    CAST(sum(w * cents) AS BIGINT) AS wsum
  FROM wtab GROUP BY 1, 2),
ranked AS (SELECT o_orderpriority, b,
    CAST(wsum AS DOUBLE) / (100.0 * nullif(CAST(n_eff AS DOUBLE), 0.0))
      AS mean_b,
    row_number() OVER (PARTITION BY o_orderpriority
      ORDER BY coalesce(CAST(wsum AS DOUBLE)
        / (100.0 * nullif(CAST(n_eff AS DOUBLE), 0.0)), -1e308), b) AS rn
  FROM rep),
ci AS (SELECT o_orderpriority,
    min(CASE WHEN rn = 2 THEN mean_b END) AS lo,
    min(CASE WHEN rn = {BOOT_REPLICAS - 1} THEN mean_b END) AS hi
  FROM ranked GROUP BY 1),
point AS (SELECT o_orderpriority,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(cents) AS DOUBLE) / (100.0 * CAST(count(*) AS DOUBLE))
      AS mean_value
  FROM o GROUP BY 1)
SELECT p.o_orderpriority, p.n_orders,
  floor(p.mean_value * 100 + 0.5) / 100 AS mean_value,
  floor(c.lo * 100 + 0.5) / 100 AS ci_lo,
  floor(c.hi * 100 + 0.5) / 100 AS ci_hi
FROM point p JOIN ci c ON p.o_orderpriority = c.o_orderpriority
"""


# ------------------------------------------------------------------
# r9: CUPED variance-reduced A/B readout
# ------------------------------------------------------------------

CUPED_CUT_DAY = 19738  # pre-period = days [19723, 19738), post = rest


def rel_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B experiment readout — the standard
    variance-reduction trick for online experiments: per user, the
    experiment metric Y (post-period purchase value) is adjusted by
    the PRE-period covariate X (the same user's pre-experiment spend),
    Y' = Y − θ(X − X̄) with the pooled θ = cov(X,Y)/var(X), removing
    the between-user variance the assignment didn't cause.

    Determinism: per-user X/Y are exact BIGINT cent sums (one
    conditional-aggregation pass over events, pre/post split on the
    integer epoch-day key `ts_bucket(US_PER_DAY)` — the µs-exact
    rule-1 idiom); the moment sums Σx, Σy, Σx², Σxy are exact BIGINTs
    (bounded: cents ≤ ~1e6/user ⇒ x·y ≤ 1e12, Σ ≤ 1e12·|users| — fine
    through sf100, rescale to dollars beyond); θ combines them in
    DOUBLE with one identical expression tree (rule 9), and each
    user's adjusted metric is floor-quantized to BIGINT micro-dollars
    BEFORE the per-arm sum so the aggregation order can't matter.
    Arms via md5(user_id) parity (rule 6).  Scale: two aggregates and
    a broadcast of one scalar row — map-side combinable everywhere."""
    ev = load_table(spark, sf_dir, "events")
    day = ts_bucket(US_PER_DAY)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(is_p & (day < CUPED_CUT_DAY), cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(is_p & (day >= CUPED_CUT_DAY), cents).otherwise(0))
        .cast("long")
        .alias("y"),
    ).select(
        "user_id",
        "x",
        "y",
        (hex_int(F.md5(F.col("user_id").cast("string"))) % 2).alias("arm"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    theta = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
        F.lit(0.0),
    )
    xbar = F.col("sx").cast("double") / nd
    glob = mom.select(theta.alias("theta"), xbar.alias("xbar"))
    adj = per_user.crossJoin(F.broadcast(glob)).select(
        "arm",
        "y",
        F.floor(
            (
                F.col("y").cast("double")
                - F.col("theta") * (F.col("x").cast("double") - F.col("xbar"))
            )
            * 1e4
            + 0.5
        )
        .cast("long")
        .alias("y_adj_tenmicro"),  # 1e-4 cents = 1e-6 dollars
        F.floor(F.col("theta") * 1e6 + 0.5).alias("theta_q"),
    )
    return adj.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (
            F.floor(
                F.sum("y").cast("double") / F.count(F.lit(1)).cast("double") + 0.5
            )
            / 100.0
        ).alias("mean_y"),
        (
            F.floor(
                F.sum("y_adj_tenmicro").cast("double")
                / F.count(F.lit(1)).cast("double")
                + 0.5
            )
            / 1e6
        ).alias("mean_y_adj"),
        (F.min("theta_q") / 1e6).alias("theta"),
    )


QUERIES["rel_cuped"] = rel_cuped
ORACLES["rel_cuped"] = f"""
WITH per_user AS (SELECT user_id,
    CAST(sum(CASE WHEN event_type = 'purchase'
      AND epoch_us(ts) // 86400000000 < {CUPED_CUT_DAY}
      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
    CAST(sum(CASE WHEN event_type = 'purchase'
      AND epoch_us(ts) // 86400000000 >= {CUPED_CUT_DAY}
      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1),
armed AS (SELECT *,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
  FROM per_user),
mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM armed),
gl AS (SELECT
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS theta,
    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
  FROM mom),
adj AS (SELECT arm, y,
    CAST(floor((CAST(y AS DOUBLE)
      - g.theta * (CAST(x AS DOUBLE) - g.xbar)) * 1e4 + 0.5) AS BIGINT)
      AS y_adj_tenmicro,
    floor(g.theta * 1e6 + 0.5) AS theta_q
  FROM armed, gl g)
SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
  floor(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 100.0
    AS mean_y,
  floor(CAST(sum(y_adj_tenmicro) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
    / 1e6 AS mean_y_adj,
  min(theta_q) / 1e6 AS theta
FROM adj GROUP BY 1
"""


# ------------------------------------------------------------------
# r9: SPRT sequential A/B monitor (daily looks)
# ------------------------------------------------------------------

import math as _math

SPRT_P0, SPRT_P1 = 0.18, 0.22  # H0/H1 purchase-rate hypotheses
# Wald boundaries + per-observation LLR increments as INTEGER micro
# literals rendered ONCE in Python (the ndcg precomputed-literal
# idiom) — no libm ln() enters either engine's plan.
SPRT_A_MICRO = round(_math.log(0.95 / 0.05) * 1e6)   # accept H1
SPRT_B_MICRO = -SPRT_A_MICRO                          # accept H0
SPRT_S_MICRO = round(_math.log(SPRT_P1 / SPRT_P0) * 1e6)          # success
SPRT_F_MICRO = round(_math.log((1 - SPRT_P1) / (1 - SPRT_P0)) * 1e6)  # failure


def ml_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT sequential A/B monitor with DAILY looks — the
    group-sequential test a production experimentation system actually
    runs: per arm (md5 user parity), the cumulative log-likelihood
    ratio of 'is this arm's purchase rate p1=0.22 rather than
    p0=0.18' is checked once per day, stopping at the first boundary
    crossing instead of waiting for a fixed horizon.

    Fully integer: per-observation LLR increments and the Wald
    boundaries ln((1−β)/α) are Python-rendered micro-unit literals, so
    the whole monitor is BIGINT arithmetic — day-level success/failure
    counts (one map-side-combinable aggregate over the corpus), a
    ≤30-row-per-arm cumulative window, and a self-join to read the
    stop-day state.  Scale: the ONLY per-row work is the day rollup;
    the sequential scan runs on the contracted (arm, day) grid — at
    100 TB the grid is still ≤ arms×days rows.  Rule 5: day is the
    unique in-arm tie-break by construction."""
    ev = load_table(spark, sf_dir, "events")
    day = ts_bucket(US_PER_DAY)
    per_day = ev.select(
        (hex_int(F.md5(F.col("user_id").cast("string"))) % 2).alias("arm"),
        day.alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    ).groupBy("arm", "day").agg(
        F.sum("x").cast("long").alias("s"),
        F.sum(F.lit(1) - F.col("x")).cast("long").alias("f"),
    )
    w = Window.partitionBy("arm").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_day.select(
        "arm",
        "day",
        F.sum("s").over(w).cast("long").alias("cs"),
        F.sum("f").over(w).cast("long").alias("cf"),
    ).select(
        "arm",
        "day",
        "cs",
        "cf",
        (F.col("cs") * SPRT_S_MICRO + F.col("cf") * SPRT_F_MICRO)
        .cast("long")
        .alias("llr_micro"),
    )
    crossed = (F.col("llr_micro") >= SPRT_A_MICRO) | (
        F.col("llr_micro") <= SPRT_B_MICRO
    )
    stop = cum.groupBy("arm").agg(
        F.coalesce(
            F.min(F.when(crossed, F.col("day"))), F.max("day")
        ).alias("stop_day")
    ).select(F.col("arm").alias("stop_arm"), "stop_day")
    at = cum.join(
        stop,
        (cum.arm == F.col("stop_arm")) & (cum.day == F.col("stop_day")),
    ).select(
        F.col("arm"),
        F.col("stop_day").cast("long").alias("look_day"),
        (F.col("cs") + F.col("cf")).cast("long").alias("n_obs"),
        F.col("llr_micro"),
        F.when(F.col("llr_micro") >= SPRT_A_MICRO, F.lit("accept_h1"))
        .when(F.col("llr_micro") <= SPRT_B_MICRO, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )
    return at


QUERIES["ml_sprt_monitor"] = ml_sprt_monitor
ORACLES["ml_sprt_monitor"] = f"""
WITH per_day AS (SELECT
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
    epoch_us(ts) // 86400000000 AS day,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS s,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT)
      AS f
  FROM events GROUP BY 1, 2),
cum AS (SELECT arm, day,
    CAST(sum(s) OVER (PARTITION BY arm ORDER BY day
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
    CAST(sum(f) OVER (PARTITION BY arm ORDER BY day
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cf
  FROM per_day),
scored AS (SELECT arm, day, cs, cf,
    CAST(cs * {SPRT_S_MICRO} + cf * {SPRT_F_MICRO} AS BIGINT) AS llr_micro
  FROM cum),
stop AS (SELECT arm,
    coalesce(min(CASE WHEN llr_micro >= {SPRT_A_MICRO}
        OR llr_micro <= {SPRT_B_MICRO} THEN day END), max(day)) AS stop_day
  FROM scored GROUP BY 1)
SELECT s.arm, CAST(t.stop_day AS BIGINT) AS look_day,
  CAST(s.cs + s.cf AS BIGINT) AS n_obs, s.llr_micro,
  CASE WHEN s.llr_micro >= {SPRT_A_MICRO} THEN 'accept_h1'
       WHEN s.llr_micro <= {SPRT_B_MICRO} THEN 'accept_h0'
       ELSE 'continue' END AS decision
FROM scored s JOIN stop t ON s.arm = t.arm AND s.day = t.stop_day
"""


# ------------------------------------------------------------------
# r9: average precision (PR-AUC)
# ------------------------------------------------------------------


def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (step-function PR-AUC) for the
    discount→returned classifier — the ranking metric that matters
    under class imbalance, completing the eval suite next to
    ml_auc_roc (ROC integral) and ml_threshold_tuning (single
    operating point): AP = Σ_k ΔR_k · P_k over the descending score
    grid.

    FULLY INTEGER: rows collapse onto the 11-value discount grid
    (exact counts, one pass — the ml_threshold_tuning shape), the
    reverse-cumulative window materializes every threshold's (tp, fp)
    simultaneously, precision/recall are BIGINT micro-units via
    `div`, and AP = Σ(pos_k · prec_micro_k) div P sums EXACT integers
    in any order — no float enters the plan.  Overflow bound: each
    term ≤ pos_k·1e6 so the sum ≤ P·1e6 — safe while P < 9.2e12
    (rel_gini-style rescale note beyond).  The 11-row window runs on
    the contracted grid, never the corpus."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("dm"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    grid = li.groupBy("dm").agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum("y").cast("long").alias("pos_k"),
    )
    wrev = Window.orderBy(F.col("dm").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    swept = grid.select(
        F.col("dm").alias("thr_m"),
        "pos_k",
        F.sum("pos_k").over(wrev).cast("long").alias("tp"),
        (F.sum("n_k").over(wrev) - F.sum("pos_k").over(wrev))
        .cast("long")
        .alias("fp"),
        F.sum("pos_k").over(wall).cast("long").alias("p_tot"),
    )
    scored = swept.select(
        "thr_m",
        "tp",
        "fp",
        F.expr("tp * 1000000 div (tp + fp)").cast("long").alias("prec_micro"),
        F.expr("tp * 1000000 div p_tot").cast("long").alias("recall_micro"),
        F.expr("pos_k * (tp * 1000000 div (tp + fp))")
        .cast("long")
        .alias("contrib"),
        "p_tot",
    )
    return scored.select(
        "thr_m",
        "tp",
        "fp",
        "prec_micro",
        "recall_micro",
        F.sum("contrib").over(wall).cast("long").alias("_c"),
        "p_tot",
    ).select(
        "thr_m",
        "tp",
        "fp",
        "prec_micro",
        "recall_micro",
        F.expr("_c div p_tot").cast("long").alias("ap_micro"),
    )


QUERIES["ml_pr_auc"] = ml_pr_auc
ORACLES["ml_pr_auc"] = """
WITH li AS (SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dm,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
grid AS (SELECT dm, CAST(count(*) AS BIGINT) AS n_k,
    CAST(sum(y) AS BIGINT) AS pos_k
  FROM li GROUP BY 1),
swept AS (SELECT dm AS thr_m, pos_k,
    CAST(sum(pos_k) OVER (ORDER BY dm DESC ROWS UNBOUNDED PRECEDING)
      AS BIGINT) AS tp,
    CAST(sum(n_k) OVER (ORDER BY dm DESC ROWS UNBOUNDED PRECEDING)
      - sum(pos_k) OVER (ORDER BY dm DESC ROWS UNBOUNDED PRECEDING)
      AS BIGINT) AS fp,
    CAST(sum(pos_k) OVER () AS BIGINT) AS p_tot
  FROM grid),
scored AS (SELECT thr_m, tp, fp,
    CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS prec_micro,
    CAST(tp * 1000000 // p_tot AS BIGINT) AS recall_micro,
    CAST(pos_k * (tp * 1000000 // (tp + fp)) AS BIGINT) AS contrib,
    p_tot
  FROM swept)
SELECT thr_m, tp, fp, prec_micro, recall_micro,
  CAST(CAST(sum(contrib) OVER () AS BIGINT) // p_tot AS BIGINT) AS ap_micro
FROM scored
"""


# ------------------------------------------------------------------
# r9: experiment power / sample-size analysis
# ------------------------------------------------------------------

# Textbook two-sided normal quantiles as integer micro literals
# (alpha = 0.05 two-sided, power = 0.80) — Python-rendered constants,
# no erf/quantile function enters either engine (the SPRT idiom).
POWER_Z_ALPHA_MICRO = 1_959_964   # z_{0.975}
POWER_Z_BETA_MICRO = 841_621      # z_{0.80}
POWER_LIFT_PPM_GRID = [10_000, 20_000, 50_000, 100_000]  # 1%..10% rel


def rel_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis — the pre-registration calculator the
    experimentation suite (rel_ab_test → rel_cuped → ml_sprt_monitor)
    needs up front: from the observed baseline conversion p (user's
    first event is a purchase — rel_ab_test's activation metric), the
    required per-arm sample size for each relative-lift target on the
    grid, and the minimum detectable effect at the CURRENT corpus
    size, via the standard two-proportion approximation
    n = (z_a + z_b)^2 · 2p(1−p) / (p·lift)^2.

    Portability: z quantiles are integer micro literals; p is one
    division over exact BIGINT counts; every output quantizes through
    floor(x+0.5) / floor(x·1e6 div …) so both engines round the same
    IEEE doubles identically (rules 3/9); sqrt IS correctly-rounded
    and therefore portable (the mcc_kappa precedent).  Scale: one
    user-level first-event window + one scalar rollup; the lift grid
    is a 4-literal broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_us().alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    u = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("long")
            .alias("conv"),
        )
    )
    mom = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    z = (POWER_Z_ALPHA_MICRO + POWER_Z_BETA_MICRO) / 1e6
    p = F.col("n_conv").cast("double") / F.col("n_users").cast("double")
    grid = F.explode(
        F.array(*[F.lit(v) for v in POWER_LIFT_PPM_GRID])
    ).alias("lift_ppm")
    g = mom.select("n_users", "n_conv", p.alias("p"), grid)
    lift = F.col("lift_ppm").cast("double") / 1e6
    # rule 8: p = 0 (a corpus with zero purchases) must yield NULL on
    # both engines, not an ANSI double/0 error in Spark vs inf in
    # DuckDB — nullif-guard every p-carrying denominator.
    req = (
        F.lit(z * z)
        * 2.0
        * F.col("p")
        * (1.0 - F.col("p"))
        / F.nullif(F.col("p") * lift * (F.col("p") * lift), F.lit(0.0))
    )
    n_arm = F.col("n_users").cast("double") / 2.0
    mde = F.lit(z) * F.sqrt(
        2.0 * F.col("p") * (1.0 - F.col("p")) / n_arm
    ) / F.nullif(F.col("p"), F.lit(0.0))
    return g.select(
        F.col("lift_ppm").cast("long").alias("lift_ppm"),
        "n_users",
        F.floor(F.col("p") * 1e6 + 0.5).cast("long").alias("p_micro"),
        F.floor(req + 0.5).cast("long").alias("required_n_per_arm"),
        F.floor(mde * 1e6 + 0.5).cast("long").alias("mde_now_ppm"),
    )


QUERIES["rel_power_analysis"] = rel_power_analysis
ORACLES["rel_power_analysis"] = f"""
WITH u AS (SELECT user_id,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM (SELECT user_id, event_type,
      row_number() OVER (PARTITION BY user_id
        ORDER BY epoch_us(ts), event_id) AS rn
    FROM events) WHERE rn = 1),
mom AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
    CAST(sum(conv) AS BIGINT) AS n_conv FROM u),
g AS (SELECT n_users, n_conv,
    CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
    unnest([{", ".join(str(v) for v in POWER_LIFT_PPM_GRID)}]) AS lift_ppm
  FROM mom)
SELECT CAST(lift_ppm AS BIGINT) AS lift_ppm, n_users,
  CAST(floor(p * 1e6 + 0.5) AS BIGINT) AS p_micro,
  CAST(floor({(POWER_Z_ALPHA_MICRO + POWER_Z_BETA_MICRO) / 1e6}
    * {(POWER_Z_ALPHA_MICRO + POWER_Z_BETA_MICRO) / 1e6}
    * 2.0 * p * (1.0 - p)
    / nullif(p * (CAST(lift_ppm AS DOUBLE) / 1e6)
       * (p * (CAST(lift_ppm AS DOUBLE) / 1e6)), 0.0) + 0.5) AS BIGINT)
    AS required_n_per_arm,
  CAST(floor({(POWER_Z_ALPHA_MICRO + POWER_Z_BETA_MICRO) / 1e6}
    * sqrt(2.0 * p * (1.0 - p) / (CAST(n_users AS DOUBLE) / 2.0))
    / nullif(p, 0.0) * 1e6 + 0.5) AS BIGINT) AS mde_now_ppm
FROM g
"""


# ---------------------------------------------------------------------------
# rel_did — difference-in-differences readout
# ---------------------------------------------------------------------------


def rel_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental readout the
    experimentation family (rel_ab_test, rel_cuped, ml_sprt_monitor)
    still lacked: arms from the content-derived md5(user_id) % 2
    split, pre/post periods split at the corpus's temporal midpoint
    (computed IN-QUERY from min/max day so both engines derive the
    same boundary from the same data — no wall-clock), and per event
    type the four cell means plus the DiD estimate
    (post_t − pre_t) − (post_c − pre_c).

    Determinism: cell sums are rule-3 integer cents; means are
    divided to micro-dollars via the sign-split idiom
    sign(cents) * (abs(cents) * 10000 div n) — Spark div truncates
    while DuckDB // floors on NEGATIVE numerators, so the division
    only ever sees non-negative operands (the trend_ppm lesson;
    BIGINT-safe until a cell's cent sum exceeds ~9.2e14 ≈ $9.2e12);
    DiD subtracts the four already-floored means, so both engines
    compute identical integers; empty cells nullif to NULL and
    propagate identically (rule 8).  Scale: ONE corpus exchange — the
    (event_type, arm, post) rollup is map-side-combinable; the
    midpoint is a broadcast scalar aggregate; the pivot runs on the
    20-cell grid."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    rows = ev.select(
        "event_type",
        (hex_int(F.md5(F.col("user_id").cast("string"))) % 2).alias("arm"),
        ts_bucket(US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
    )
    bounds = rows.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(F.expr("(lo + hi + 1) div 2").alias("split_day"))
    cells = (
        rows.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            "arm",
            F.when(F.col("day") >= F.col("split_day"), 1)
            .otherwise(0)
            .alias("post"),
            "cents",
        )
        .groupBy("event_type", "arm", "post")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "event_type",
            "arm",
            "post",
            "n",
            F.expr(
                "CAST((CASE WHEN cents < 0 THEN -1 ELSE 1 END)"
                " * (abs(cents) * 10000 div nullif(n, 0)) AS BIGINT)"
            ).alias("mean_micro"),
        )
    )

    def cell(arm: int, post: int, col: str):
        return F.max(
            F.when((F.col("arm") == arm) & (F.col("post") == post), F.col(col))
        )

    out = cells.groupBy("event_type").agg(
        cell(0, 0, "n").cast("long").alias("n_pre_ctrl"),
        cell(1, 0, "n").cast("long").alias("n_pre_treat"),
        cell(0, 1, "n").cast("long").alias("n_post_ctrl"),
        cell(1, 1, "n").cast("long").alias("n_post_treat"),
        cell(0, 0, "mean_micro").alias("pre_ctrl_micro"),
        cell(1, 0, "mean_micro").alias("pre_treat_micro"),
        cell(0, 1, "mean_micro").alias("post_ctrl_micro"),
        cell(1, 1, "mean_micro").alias("post_treat_micro"),
    )
    return out.select(
        "*",
        (
            (F.col("post_treat_micro") - F.col("pre_treat_micro"))
            - (F.col("post_ctrl_micro") - F.col("pre_ctrl_micro"))
        )
        .cast("long")
        .alias("did_micro"),
    )


_DID_ORACLE = """
WITH rows_ AS (SELECT event_type,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
      AS arm,
    epoch_us(ts) // 86400000000 AS day,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
bounds AS (SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM rows_),
cells AS (SELECT event_type, arm,
    CASE WHEN day >= split_day THEN 1 ELSE 0 END AS post,
    CAST(count(*) AS BIGINT) AS n,
    CAST((CASE WHEN sum(cents) < 0 THEN -1 ELSE 1 END)
         * (abs(sum(cents)) * 10000 // nullif(count(*), 0))
      AS BIGINT) AS mean_micro
  FROM rows_ CROSS JOIN bounds GROUP BY 1, 2, 3),
piv AS (SELECT event_type,
    CAST(max(CASE WHEN arm = 0 AND post = 0 THEN n END) AS BIGINT)
      AS n_pre_ctrl,
    CAST(max(CASE WHEN arm = 1 AND post = 0 THEN n END) AS BIGINT)
      AS n_pre_treat,
    CAST(max(CASE WHEN arm = 0 AND post = 1 THEN n END) AS BIGINT)
      AS n_post_ctrl,
    CAST(max(CASE WHEN arm = 1 AND post = 1 THEN n END) AS BIGINT)
      AS n_post_treat,
    max(CASE WHEN arm = 0 AND post = 0 THEN mean_micro END)
      AS pre_ctrl_micro,
    max(CASE WHEN arm = 1 AND post = 0 THEN mean_micro END)
      AS pre_treat_micro,
    max(CASE WHEN arm = 0 AND post = 1 THEN mean_micro END)
      AS post_ctrl_micro,
    max(CASE WHEN arm = 1 AND post = 1 THEN mean_micro END)
      AS post_treat_micro
  FROM cells GROUP BY 1)
SELECT *,
  CAST((post_treat_micro - pre_treat_micro)
       - (post_ctrl_micro - pre_ctrl_micro) AS BIGINT) AS did_micro
FROM piv
"""


# ---------------------------------------------------------------------------
# rel_mann_kendall — non-parametric monotone-trend test
# ---------------------------------------------------------------------------


def rel_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type — the
    distribution-free companion to rel_rolling_ols/rel_theil_sen:
    S = sum over day pairs i<j of sign(x_j − x_i) on the daily
    revenue series, with the x18-scaled null variance
    n(n−1)(2n+5) (kept integer instead of dividing by 18) and a
    normalized trend strength S/maxpairs in ppm.

    Determinism: daily x is an exact BIGINT cent sum, so every sign
    comparison is integer-exact; S can be NEGATIVE, and integer
    division diverges on negatives (Spark div truncates, DuckDB //
    floors) — the ppm is therefore computed as
    sign(S) * (|S| * 1e6 div n_pairs), keeping every division
    positive (the sum_len_delta lesson).  Scale: ONE corpus exchange
    builds the per-(type, day) rollup; the pairwise self-join runs on
    the bounded daily grid (~31 days x |event_type| rows at ANY
    corpus size — a contracted table, so the quadratic stage is
    metadata-sized; the join keys alias the grouped side per the r9
    ambiguity gotcha)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    daily = (
        ev.select(
            "event_type",
            ts_bucket(US_PER_DAY).alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("x"))
    )
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("d1"),
        F.col("x").alias("x1"),
    )
    b = daily.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("d2"),
        F.col("x").alias("x2"),
    )
    pairs = a.join(b, "et").filter(F.col("d1") < F.col("d2"))
    agg = pairs.groupBy(F.col("et").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("x2") > F.col("x1"), 1)
            .when(F.col("x2") < F.col("x1"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat"),
    )
    days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return agg.join(days, "event_type").select(
        "event_type",
        "n_days",
        "n_pairs",
        "s_stat",
        F.expr("n_days * (n_days - 1) * (2 * n_days + 5)")
        .cast("long")
        .alias("var18"),
        (
            F.when(F.col("s_stat") < 0, -1).otherwise(1)
            * F.expr("CAST(abs(s_stat) * 1000000 div n_pairs AS BIGINT)")
        )
        .cast("long")
        .alias("trend_ppm"),
    )


_MANN_KENDALL_ORACLE = """
WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
pairs AS (SELECT a.event_type,
    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(sgn) AS BIGINT) AS s_stat
  FROM pairs GROUP BY 1),
days AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1)
SELECT event_type, n_days, n_pairs, s_stat,
  CAST(n_days * (n_days - 1) * (2 * n_days + 5) AS BIGINT) AS var18,
  CAST((CASE WHEN s_stat < 0 THEN -1 ELSE 1 END)
       * (abs(s_stat) * 1000000 // n_pairs) AS BIGINT) AS trend_ppm
FROM agg JOIN days USING (event_type)
"""


QUERIES["rel_did"] = rel_did
ORACLES["rel_did"] = _DID_ORACLE
QUERIES["rel_mann_kendall"] = rel_mann_kendall
ORACLES["rel_mann_kendall"] = _MANN_KENDALL_ORACLE
