"""Relational operator surface — SURVEY.md §2.4 Q01–Q24.

The reference (``/root/reference``, a CDAP decision-tree plugin pair)
implements no relational operators itself — it delegates them to the
host pipeline (SURVEY §2.3).  This module is the declared relational
inventory of the rebuilt engine: scans, projections, filters, the five
join types, aggregation/rollup, three window classes, sort/top-k, set
ops, and the scalar-function families, each expressed as a declarative
DataFrame plan so Catalyst handles pushdown, pruning, join selection,
and AQE handles runtime re-planning.

Cross-engine determinism rules (every query here has a DuckDB oracle):

* every output row is uniquely ordered by the harness over all columns
  — queries with window/rank semantics use explicit unique tie-breaks;
* integer-typed derived columns are cast to ``bigint`` on the Spark
  side to match DuckDB's default BIGINT arithmetic;
* DuckDB ``SUM(integer)`` returns HUGEINT — oracles cast back to
  BIGINT;
* ``events.ts`` time arithmetic uses integer epoch-µs on both engines
  (Spark: ``ts_us()`` of the nanos int64; DuckDB: ``epoch_us(ts)``
  after its ns→µs read truncation);
* ``timestamp_ntz`` columns (``o_orderdate``, ``l_shipdate``) are
  naive on both engines, so date-part extraction is timezone-free.

Scale notes (100 TB stance) are given per query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators._parts import spread
from decision_tree_analytics_spark.operators._rules import (
    US_PER_DAY,
    US_PER_HOUR,
    hex_int,
    round6,
    ts_bucket,
    ts_us,
)
from decision_tree_analytics_spark.operators.dedup import tokens
from decision_tree_analytics_spark.sources.tables import load_table


# --------------------------------------------------------------------
# Q01 — parquet scan + projection.
# Scale: column pruning reaches the scan (ReadSchema shows only the two
# columns); no shuffle at all.
def q01_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


# Q02 — exclude-list projection (reference O3 exclude semantics,
# SparkMLTrainer.java:114-116): keep schema order of remaining columns.
# The timestamp column is rendered as an ISO date string so the output
# is engine-representation-free (temporal outputs are the one place
# Spark/DuckDB client types diverge).
def q02_project_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.drop("l_returnflag", "l_linestatus").withColumn(
        "l_shipdate", F.date_format("l_shipdate", "yyyy-MM-dd")
    )


# Q03 — null-drop filter (reference O4: drop records with null label,
# SparkMLTrainer.java:118-127).  Predicate pushes to the parquet scan.
def q03_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("value").isNotNull()).select(
        "event_id", "user_id", "event_type", "value"
    )


# Q04 — threshold label derivation (reference O14:
# DecisionTreeRegressionTest.java:154-155, delayed = depDelay > 40).
def q04_label_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") > 40, F.lit(1.0)).otherwise(F.lit(0.0)).alias("delayed"),
    )


# Q05 — compound predicate; all three conjuncts push down to parquet.
def q05_compound_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount").between(0.05, 0.07)) & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_extendedprice")


# Q06 — inner equi join orders ⋈ customer on custkey.
# Scale: both sides are fact-sized at 100 TB → shuffle (sort-merge)
# join on the key; AQE converts to broadcast when the build side is
# small at runtime.  No hint on purpose.
def q06_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name"
    )


# Q07 — star join through bounded dims.  nation (25 rows) and region
# (5 rows) are bounded at ANY scale → explicit broadcast; the fact
# side streams through map-side hash joins with zero shuffle.
def q07_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


# Q08 — left outer join + per-customer order count (nulls count as 0).
def q08_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("n_orders"))
    )


# Q09 — left semi: customers having ≥1 order.  Semi joins ship only
# the key column of the probe side; at scale this is a shuffle on the
# join key with early duplicate elimination.
def q09_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


# Q10 — left anti: customers with no orders.
def q10_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# Q11 — TPC-H Q1 core: hash aggregation with map-side partial agg.
# Scale: partial aggregation collapses each input partition to ≤ |RF×LS|
# rows before the shuffle — the shuffle moves O(groups), not O(rows).
def q11_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.count(F.lit(1)).alias("cnt_order"),
    )


# Q12 — distinct aggregation: exact distinct users per event_type.
# Scale: Spark expands COUNT(DISTINCT) into a two-stage agg (dedup on
# (event_type, user_id) then count) — both stages partial-agg first.
def q12_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("uniq_users")
    )


# Q13 — cardinality discovery: exact distinct counts of candidate
# categorical columns (backs the reference's cardinalityMapping
# validation, DecisionTreeTrainer.java:53-55).
def q13_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("event_type").alias("event_type_card"),
        F.countDistinct("user_id").alias("user_id_card"),
    )


# Q14 — approximate distinct (HLL++).  No DuckDB oracle: sketch
# estimates are engine-specific; the driver records rows-only and the
# pytest suite checks the ≤5%-of-exact tolerance instead.
# Scale: HLL sketches merge associatively — constant memory per group
# regardless of input size; this is the 100 TB path for Q12.
def q14_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_uniq_users")
    )


# Approximate quantiles (Greenwald-Khanna / KLL-family sketch).  Like
# Q14: sketch internals are engine-specific → rows-only for the
# driver; pytest asserts ≤1% relative error vs the exact percentile.
# The three quantiles are projected to SCALAR columns (p50/p95/p99)
# rather than one array<double> — the driver's canonicalizer sorts
# and hashes output cells, and an ndarray cell is unhashable.
# Scale: the sketch is mergeable with bounded size (controlled by the
# accuracy parameter) — the only way to do percentiles in one pass
# over 100 TB without a global sort.
def rel_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    return li.groupBy("l_returnflag").agg(
        F.element_at(pcts, 1).alias("p50"),
        F.element_at(pcts, 2).alias("p95"),
        F.element_at(pcts, 3).alias("p99"),
    )


# Q15 — ROLLUP grouping sets.
def q15_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# Q16 — window ranking / dedup-keep-first: first order per customer.
# Unique tie-break (o_orderdate, o_orderkey) makes the winner
# deterministic on both engines.
# Scale: one shuffle on o_custkey; rank+filter is pipelined after the
# sort — no second shuffle.
def q16_window_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# Q17 — window analytic: per-user value delta between consecutive
# events.  Ordering key is integer epoch-µs (cross-engine contract).
def q17_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Integer `div`, never float division: int64-ns magnitudes exceed
    # double's 53-bit mantissa, so (ts/1000).cast would mis-key ~12% of
    # rows by 1µs (CLAUDE.md rule 1).
    us = ts_us()
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
    )


# Q18 — window frame aggregate: running revenue per customer.
# ROWS UNBOUNDED PRECEDING with a unique ordering → the running sum is
# the same addition sequence on both engines (bitwise-stable doubles).
def q18_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum("o_totalprice").over(w).alias("running_total"),
    )


# Q19 — global top-k.  Spark plans orderBy().limit() as TakeOrderedAndProject:
# each partition keeps a local k-heap, the driver merges k×partitions
# rows — no global sort at any scale.
def q19_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# Q20 — set operations over two overlapping orderkey slices, tagged
# and unioned into one result.  intersect = set semantics (distinct),
# exceptAll = bag semantics, matching SQL INTERSECT / EXCEPT ALL.
def q20_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    a = o.filter(F.col("o_orderkey") < 1000)
    b = o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "o_orderkey", "o_orderstatus")
    return (
        tag(a.unionByName(b), "union_all")
        .unionByName(tag(a.intersect(b), "intersect"))
        .unionByName(tag(a.exceptAll(b), "except_all"))
    )


# Q21 — string functions over documents (text-analysis base layer).
def q21_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower(F.trim(F.col("text"))).alias("text_norm"),
        F.length("text").cast("long").alias("text_len"),
        F.regexp_extract("text", r"^\s*(\w+)", 1).alias("first_word"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )


# Q22 — date functions on the lineitem⋈orders join.
def q22_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        F.month("l_shipdate").cast("long").alias("ship_month"),
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_ship"),
    )


# Q23 — math functions (all whole-stage-codegen'd JVM expressions).
# round-to-cents is spelled floor(x*100 + 0.5)/100 because builtin
# round() semantics differ between engines (Spark: HALF_UP on the
# shortest decimal repr; DuckDB: numeric rounding on the raw double) —
# this formula is the same IEEE op sequence everywhere.
def q23_math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(disc * 100 + 0.5) / 100).alias("disc_price"),
        F.abs(F.col("l_discount") - F.col("l_tax")).alias("abs_disc_tax"),
        F.log(F.col("l_extendedprice") + 1).alias("ln_price"),
    )


# Q24 — exact dedup of documents on (text, lang), keeping the lowest
# doc_id (reference keep-first pattern, generalized).
# Scale: groupBy-min shuffles each (text,lang) group once with partial
# aggregation — strictly cheaper than the window/row_number variant,
# which must materialize and sort every group.  For 100 TB text keys,
# group on a fingerprint hash instead (see operators/dedup.py).
def q24_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("text", "lang")
        .agg(
            F.min("doc_id").cast("long").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .select("doc_id", "lang", "n_dupes")
    )


# rel_cube — CUBE grouping sets (rollup's sibling; Spark expands both
# to a single Expand + aggregate, one shuffle).
def rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_totalprice").alias("sum_price"),
    )


# rel_json_fns — JSON scalar extraction from the events props column
# (JVM-side JsonPath; at scale prefer from_json with a schema so the
# parse happens once per row, not per extraction).
def rel_json_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def _morton_expr(xcol: str, ycol: str, bits: int = 8) -> str:
    """2-D Morton (Z-order) interleave as one arithmetic expression —
    valid Spark SQL AND DuckDB SQL verbatim (>>, &, <<, % behave
    identically on BIGINT), so both engines evaluate the exact same
    string."""
    terms = []
    # Every term fully parenthesized: + binds TIGHTER than << in both
    # engines (C-style precedence), so `a << 0 + b << 1` would parse
    # as `a << (0 + b) << 1`.
    for b in range(bits):
        terms.append(f"(((({xcol}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({ycol}) >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


def rel_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event_id mod
    256) — the multi-dimensional layout key: rows sorted by this key
    land range-queries on EITHER dimension in few contiguous row
    groups, which is what Delta/Iceberg OPTIMIZE ZORDER computes
    before handing off to exactly the sortWithinPartitions writer
    this engine already has (sources/formats.write_clustered_parquet).
    Pure codegen bit arithmetic — no shuffle, no UDF."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    x, y = "user_id % 256", "event_id % 256"
    return e.select(
        "event_id",
        F.expr(x).cast("long").alias("x"),
        F.expr(y).cast("long").alias("y"),
        F.expr(_morton_expr(x, y)).cast("long").alias("zkey"),
    )


def rel_variant_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VariantType —
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extraction.  At scale this replaces
    per-access string re-parsing (``get_json_object`` re-tokenizes
    the JSON for every path; a variant parses once and serves every
    extraction from the binary form — the Parquet VARIANT story).
    ``try_variant_get`` on a missing path yields NULL, not an error.

    Oracle: DuckDB's JSON lane (json_extract) — same logical answers
    from a different encoding."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.pmod(k, F.lit(10)).alias("k_mod"),
        F.try_variant_get(v, "$.missing", "long").alias("missing_path"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
    )


# rel_percentile — exact interpolated median per group (both engines
# define it as linear interpolation between closest ranks).
def rel_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("median_value")
    )


# rel_sessionize — batch sessionization as window composition:
# session boundary = gap > 30 min since previous event (lag), session
# id = running count of boundaries (cumulative sum), then aggregate
# per session.  The streaming twin is streaming/sessionize.py's
# native session_window; identical gap semantics.
# Scale: one shuffle on user_id; both windows share the same
# partitioning+ordering so Catalyst plans a single sort.
def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gap_us = 30 * 60 * 1_000_000
    us = ts_us()
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    with_gap = ev.select(
        "event_id",
        "user_id",
        "value",
        us.alias("t"),
        F.when(
            (us - F.lag(us).over(w)) > gap_us, F.lit(1)
        ).otherwise(F.lit(0)).alias("is_new"),
    )
    wc = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = with_gap.withColumn(
        "session_id", F.sum("is_new").over(wc).cast("long")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").alias("session_start_us"),
        F.max("t").alias("session_end_us"),
        F.sum("value").alias("session_value"),
    )


# rel_pivot — pivot with explicitly declared values (never let Spark
# run the values-discovery job at scale); plans as one conditional
# aggregation, same as the SQL FILTER form.
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"cnt_{c.lower()}") for c in ("F", "O", "P")],
    )


# rel_funnel — sequential conversion: users whose first 'signup' is
# later followed by a 'purchase'.  Min-timestamp-per-step conditional
# aggregation: one shuffle on user_id, no self-join.
def rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = ts_us()
    steps = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("t_signup"),
        F.max(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("t_last_purchase"),
    )
    return steps.select(
        "user_id",
        F.col("t_signup").isNotNull().cast("long").alias("did_signup"),
        F.coalesce(
            (
                F.col("t_signup").isNotNull()
                & (F.col("t_last_purchase") > F.col("t_signup"))
            ).cast("long"),
            F.lit(0),
        ).alias("converted"),
    )


# rel_profile — one-pass column profiling of lineitem (null counts,
# ranges, distincts): the data-quality primitive every ingest
# pipeline runs.  Single aggregate, map-side partials; at scale this
# is exactly the pre-flight job run before committing a 100 TB load.
def rel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.countDistinct("l_returnflag").alias("n_returnflags"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


# rel_conditional_fns — null-handling / conditional scalar family
# (coalesce, nullif, greatest, least, multi-branch case).
def rel_conditional_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(-1.0)).alias(
            "disc_or_flag"
        ),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
        .alias("qty_band"),
    )


# rel_string_pad_fns — string manipulation family (pad, concat,
# substr, replace, repeat, reverse).
def rel_string_pad_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("tagged"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("short_name"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
    )


# rel_rank_family — the remaining ranking window functions in one
# query (rank / dense_rank / ntile / first_value), all over one
# window spec → single shuffle+sort.
def rel_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first_value(F.col("o_orderkey")).over(w).alias("top_order"),
    )


# rel_array_fns — array aggregation over the embedding column (cast
# element-wise to double first so both engines compute in double).
def rel_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.array_min(vd).alias("v_min"),
        F.array_max(vd).alias("v_max"),
        F.aggregate(vd, F.lit(0.0), lambda a, x: a + x).alias("v_sum"),
    )


# rel_unpivot — wide→long melt of the lineitem rate columns via the
# native DataFrame.unpivot (Expand node: no shuffle, no UDF).
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# rel_explode — lateral expansion with position (posexplode): the
# row→rows generator underlying every shingle/token pipeline.
# Scale: pipelined generate, no shuffle; output size is the term count.
def rel_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.posexplode(tokens()).alias("pos", "token"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


# rel_map_fns — map-typed column construction and extraction
# (create_map / map_keys / element_at).  Maps stay inside codegen;
# outputs are flattened back to plain columns for the cross-engine
# hash (map column rendering differs between engines).
def rel_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("tax"), F.col("l_tax").cast("double"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(m).cast("long").alias("n_entries"),
        F.array_join(F.map_keys(m), ",").alias("keys_str"),
        F.element_at(m, F.lit("qty")).alias("qty_val"),
        F.element_at(m, F.lit("tax")).alias("tax_val"),
    )


# rel_grouping_sets — explicit GROUPING SETS (beyond rollup/cube) with
# the standard grouping-bitmask output.  One Expand + one aggregate;
# partial aggregation still applies per grouping set.
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


# rel_range_join — batch interval join via time-bucketing: pair each
# event with the same user's events in the preceding 5 minutes.
# Naively this is a non-equi join → BroadcastNestedLoopJoin (quadratic
# probe, the classic range-join scale killer).  Bucketing by the
# interval width turns it into an equi-join on (user, bucket): the
# probe row is replicated into its own and the previous bucket, the
# build side keeps its single bucket, and the exact interval predicate
# refines after the hash match.  Locked by a plan test (no BNLJ).
RANGE_JOIN_US = 300_000_000  # 5 minutes in µs


def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", ts_us().alias("us"))
        .filter(F.col("user_id") < 20)
    )
    a = ev.select(
        F.col("event_id").alias("event_id_a"), "user_id", F.col("us").alias("a_us")
    ).withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"a_us div {RANGE_JOIN_US}"),
                F.expr(f"a_us div {RANGE_JOIN_US} - 1"),
            )
        ),
    )
    b = ev.select(
        F.col("event_id").alias("prev_event_id"),
        F.col("user_id").alias("b_user"),
        F.col("us").alias("b_us"),
        F.expr(f"us div {RANGE_JOIN_US}").alias("bucket"),
    )
    return (
        a.join(b, (a.bucket == b.bucket) & (a.user_id == b.b_user))
        .filter(
            (F.col("b_us") < F.col("a_us"))
            & (F.col("b_us") >= F.col("a_us") - RANGE_JOIN_US)
        )
        .select(
            F.col("event_id_a").alias("event_id"),
            "prev_event_id",
            "user_id",
        )
    )


def rel_stats_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: correlation, sample stddev and
    variance per event_type (value vs day index).  The day index is
    integer epoch-days (`div`, not float division) so the correlate
    is small-magnitude on both engines; all outputs round to 1e-6
    before compare — both engines use numerically stable one-pass
    moments but associate their sums differently."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        ts_bucket(US_PER_DAY).cast("double").alias("day_idx"),
    )
    return ev.groupBy("event_type").agg(
        round6(F.corr("value", "day_idx")).alias("corr_value_day"),
        round6(F.stddev_samp("value")).alias("stddev_value"),
        round6(F.var_samp("value")).alias("var_value"),
        round6(F.avg("value")).alias("avg_value"),
    )


# Incremental-aggregate split: event_id % 10 < 8 plays the "nightly
# base", the rest the "delta batch" (a modulo split stays non-vacuous
# at every scale factor, unlike an id threshold).
INC_AGG_MOD, INC_AGG_BASE = 10, 8


def rel_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: merge a delta batch's
    partial aggregates into a base snapshot's WITHOUT rescanning the
    base — the materialized-view refresh pattern.

    Works because count/sum/min/max are mergeable: the merge is a
    union of partial-aggregate rows re-aggregated with (sum, sum,
    min, max).  The oracle aggregates the full table directly, so a
    driver match PROVES the merge is lossless.  At 100 TB the base
    partials are a tiny stored table and each refresh touches only
    the delta."""
    ev = load_table(spark, sf_dir, "events")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    base = partials(ev.filter(F.col("event_id") % INC_AGG_MOD < INC_AGG_BASE))
    delta = partials(ev.filter(F.col("event_id") % INC_AGG_MOD >= INC_AGG_BASE))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


HIST_BINS = 128


def rel_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram quantile sketch: p50/p90/p99 of value per
    event_type from a 128-bin equi-width histogram.

    The deterministic cousin of rel_approx_quantile's engine-native
    sketch: bin assignment is pure arithmetic (IEEE-identical in both
    engines), so the whole sketch — bounds pass, histogram pass,
    cumulative scan, quantile pick — carries a full DuckDB oracle.
    Error is bounded by one bin width; estimates report the bin's
    upper edge.

    Scale: two aggregations with map-side partials (bounds, then
    (group, bin) counts — at most |groups|×128 rows reach the
    cumulative window), one broadcast of the bounds.  Histograms
    merge by adding counts, so the same plan does incremental
    refresh (rel_incremental_agg pattern)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bounds = ev.groupBy(F.col("event_type").alias("b_type")).agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    j = ev.join(F.broadcast(bounds), ev.event_type == F.col("b_type"))
    bin_ = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("value") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * HIST_BINS
            ),
            F.lit(HIST_BINS - 1),
        )
    )
    hist = j.groupBy(
        "event_type", "mn", "mx", bin_.cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    edge = F.col("mn") + (F.col("bin") + 1) / HIST_BINS * (F.col("mx") - F.col("mn"))

    def est(q: float) -> Column:
        return round6(F.min(F.when(F.col("cum") >= q * F.col("total"), edge)))

    return cum.groupBy("event_type").agg(
        est(0.5).alias("p50_est"),
        est(0.9).alias("p90_est"),
        est(0.99).alias("p99_est"),
    )


KMV_K = 64
# 16^13 = 2^52: 13 hex digits fit BIGINT and double exactly.
KMV_SCALE = float(16**13)


def rel_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per event_type — the
    deterministic, fully-oracled counterpart of q14's HLL (engine
    sketches never hash-match across engines; a content-derived md5
    KMV does).

    Estimator: hash each distinct user to u ∈ [0,1) (first 13 md5 hex
    digits / 2^52), keep the K smallest; if fewer than K exist the
    count is exact, else est = (K-1)/u_(K).  Error ~1/√K (~12% at
    K=64; production raises K).

    Scale: the distinct pre-step and the per-group K-smallest are the
    only shuffles; keeping K values per group is a bounded-state
    mergeable sketch — union two groups' K-min sets, re-take the K
    smallest — so the same query maintains incrementally
    (rel_incremental_agg pattern) and merges across partitions
    map-side."""
    d = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    u = d.select(
        "event_type",
        (hex_int(F.md5(F.col("user_id").cast("string")), 1, 13) / KMV_SCALE).alias(
            "u"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("u")
    kmin = (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"), F.max("u").alias("kth"))
    )
    est = F.when(F.col("n_kept") < KMV_K, F.col("n_kept")).otherwise(
        (KMV_K - 1) / F.col("kth")
    )
    return kmin.select(
        "event_type",
        "n_kept",
        round6(est).alias("est_distinct"),
    )


def rel_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET OPERATIONS on KMV sketches: estimated
    |A∪B| and |A∩B| of the distinct-user sets of every event_type
    pair — the reason mergeable sketches exist (segment overlap /
    audience intersection at 100 TB without re-scanning raw data).

    Estimator (Dasgupta et al. theta sketch): per set keep the K
    smallest content-derived hashes and the threshold θ = K-th
    smallest (θ = 1 when the set has fewer than K members, i.e. the
    sketch is exact).  For a pair, θ∧ = min(θ_A, θ_B); every retained
    hash < θ∧ is a uniform sample of the union, so
    |A∪B| ≈ |S_A ∪ S_B| / θ∧ and |A∩B| ≈ |S_A ∩ S_B| / θ∧.

    Scale: after the per-type K-min window (the only data-sized
    shuffle, shared with rel_kmv_distinct), everything operates on
    ≤ |types|·K sketch rows — the pair joins never touch the events
    table again."""
    d = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    u = d.select(
        "event_type",
        (hex_int(F.md5(F.col("user_id").cast("string")), 1, 13) / KMV_SCALE).alias(
            "u"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("u")
    ranked = u.withColumn("rn", F.row_number().over(w))
    # The sketch table is ≤ |types|·K rows and feeds THREE consumers
    # (theta, S_A, S_B); persisting it keeps the events scan + K-min
    # window single-execution (tether releases it with the result).
    kmin = (
        ranked.filter(F.col("rn") <= KMV_K).select("event_type", "u").persist()
    )
    # theta derives from the sketch alone: a type kept fewer than K
    # hashes iff its set has fewer than K members (θ = 1, exact).
    theta = kmin.groupBy("event_type").agg(
        F.when(F.count(F.lit(1)) < KMV_K, F.lit(1.0))
        .otherwise(F.max("u"))
        .alias("theta")
    )
    ta, tb = theta.alias("ta"), theta.alias("tb")
    pairs = ta.join(
        tb, F.col("ta.event_type") < F.col("tb.event_type")
    ).select(
        F.col("ta.event_type").alias("type_a"),
        F.col("tb.event_type").alias("type_b"),
        F.least("ta.theta", "tb.theta").alias("th"),
    )
    sa = pairs.join(
        kmin, (pairs.type_a == kmin.event_type) & (kmin.u < pairs.th)
    ).select("type_a", "type_b", "u", "th")
    sb = pairs.join(
        kmin, (pairs.type_b == kmin.event_type) & (kmin.u < pairs.th)
    ).select("type_a", "type_b", "u", "th")
    un = (
        sa.unionByName(sb)
        .groupBy("type_a", "type_b")
        .agg(
            F.countDistinct("u").cast("long").alias("n_union_sample"),
            F.min("th").alias("th"),
        )
    )
    it = (
        sa.select("type_a", "type_b", "u")
        .join(sb.select("type_a", "type_b", "u"), ["type_a", "type_b", "u"])
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter_sample"))
    )
    j = un.join(it, ["type_a", "type_b"], "left")
    ni = F.coalesce(F.col("n_inter_sample"), F.lit(0)).cast("long")
    result = j.select(
        "type_a",
        "type_b",
        "n_union_sample",
        ni.alias("n_inter_sample"),
        round6(F.col("n_union_sample") / F.col("th")).alias("est_union"),
        round6(ni / F.col("th")).alias("est_inter"),
    )
    return tether_cache(result, kmin)


def rel_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per-user event-sequence pattern matching.

    Each user's time-ordered event types compress to a one-char-per-
    event string (first letters c/e/p/s/v are distinct here; a real
    deployment declares the alphabet), then patterns are plain regex:
    ``has_funnel`` = signup … click … purchase in order,
    ``n_click_purchase`` = non-overlapping direct click→purchase
    adjacencies.  Regex kept to Java≡RE2-identical syntax.

    Scale: one shuffle on user_id; the collected sequence is bounded
    by events-per-user (the same bound every sessionizer needs), and
    the struct sort is deterministic via the unique event_id
    tie-break.  Pattern evaluation is a linear JVM regex scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        ts_us().alias("ts_us"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts_us", "event_id", "event_type"))
                ),
                lambda s: F.substring(s["event_type"], 1, 1),
            ),
            "",
        ).alias("seq")
    )
    return seq.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.col("seq").rlike("s.*c.*p").cast("long").alias("has_funnel"),
        F.regexp_count(F.col("seq"), F.lit("cp")).cast("long").alias(
            "n_click_purchase"
        ),
    )


# Retention cutoff: epoch-µs of 2000-01-01 — the rollup ignores
# anything older (the hypertable retention-window pattern; the filter
# is a pushable integer predicate on the scan).
ROLLUP_CUTOFF_US = 946_684_800_000_000


def rel_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: event counts and
    value sums at (day, hour, type), (day, type), (day) and grand
    total granularities in ONE grouping-sets pass, over a retention
    window.

    The multi-granularity rollup a time-series store materializes
    incrementally, expressed as a single aggregation: Spark computes
    all four granularities with one shuffle (partial aggregation
    map-side for every set), instead of four passes over the fact.
    Buckets are integer epoch-µs floors (`us div bucket * bucket`) —
    the cross-engine time-key contract; grouping_id disambiguates
    NULL-bucket rows from real NULLs."""
    ev = load_table(spark, sf_dir, "events").select(
        ts_us().alias("us"), "event_type", "value"
    )
    b = ev.filter(F.col("us") >= ROLLUP_CUTOFF_US).select(
        F.expr(f"us div {US_PER_DAY} * {US_PER_DAY}").alias("day_us"),
        F.expr(f"us div {US_PER_HOUR} * {US_PER_HOUR}").alias("hour_us"),
        "event_type",
        "value",
    )
    return b.groupingSets(
        [
            ["day_us", "hour_us", "event_type"],
            ["day_us", "event_type"],
            ["day_us"],
            [],
        ],
        "day_us",
        "hour_us",
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.grouping_id().cast("long").alias("gid"),
    )


def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — for every purchase, the user's most recent view at
    or before it (last-touch attribution, the time-series join Spark
    has no primitive for).

    NOT implemented as a join at all: both sides union into one
    stream, and a running `last(view, ignorenulls)` over a
    (user-partitioned, time-ordered) window carries the newest view
    forward into each purchase row.  One hashpartitioning exchange on
    user_id + one sort — the textbook distributed as-of merge; a
    join-based formulation (equi on user + max-ts subquery) would
    shuffle twice and re-scan.  Same-timestamp ties order the view
    first (tag 0 < 1) so the semantics are `view.ts <= purchase.ts`,
    with event_id as the final deterministic tie-break.  Purchases
    with no prior view keep NULL match columns (left as-of).

    Scale: state per task is one struct per user — nothing accumulates;
    skew is bounded by the busiest single user."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_id",
        "user_id",
        ts_us().alias("us"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_left"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_left", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "asof",
        F.last(
            F.when(
                F.col("is_left") == 0,
                F.struct(
                    F.col("event_id").alias("vid"), F.col("us").alias("vus")
                ),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return carried.filter(F.col("is_left") == 1).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("us").alias("purchase_us"),
        F.col("asof.vid").alias("view_event_id"),
        F.col("asof.vus").alias("view_us"),
    )


# Stratified sampling modulus/keep: keep event_id-hash % MOD < KEEP,
# i.e. a deterministic ~20% per stratum.
SAMPLE_MOD = 10
SAMPLE_KEEP = 2


def rel_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — ~20% of events per
    event_type, selected by a content-derived hash of the row id
    (md5 → first 8 hex digits → % 10 < 2), not an engine RNG.

    The training-data-pipeline sampling primitive: reproducible across
    engines/runs/retries (a resampled pipeline stage yields the same
    subset), map-only (the predicate evaluates inside the scan's
    project — zero shuffle), and per-stratum rates are just a CASE
    over the modulus.  The count-by-stratum output makes rate drift
    oracle-visible; sampled ids are checked by the membership test in
    tests/test_stratified_sample.py."""
    ev = load_table(spark, sf_dir, "events")
    bucket = hex_int(F.md5(F.col("event_id").cast("string"))) % SAMPLE_MOD
    kept = ev.filter(bucket < SAMPLE_KEEP)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("event_id").cast("long").alias("min_event_id"),
        F.max("event_id").cast("long").alias("max_event_id"),
    )


def stratified_sample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row-level sample behind rel_stratified_sample (the contract
    query aggregates per stratum so the oracle pins the rates; this is
    what a pipeline would actually consume)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = hex_int(F.md5(F.col("event_id").cast("string"))) % SAMPLE_MOD
    return ev.filter(bucket < SAMPLE_KEEP)


# Grouped top-k salt width.  Stage-1 parallelism is |groups| × this,
# so the value trades shuffle fan-out against stage-2 input size
# (≤ k × GROUPED_TOPK_SALTS rows per group reach the final window).
GROUPED_TOPK_SALTS = 64


def grouped_topk_window(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-event-type top-k by value — the textbook single-window
    strategy.  One exchange hash-partitioned on event_type: correct,
    but parallelism is capped at the number of groups, so with ~10
    event types a 1000-executor cluster leaves 99% of its cores idle
    while ten tasks sort the entire table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc_nulls_last(), F.col("event_id").asc()
    )
    return (
        ev.select("event_type", "event_id", "value")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def rel_grouped_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-event-type top-k by value — the salted two-phase strategy
    the engine actually ships.

    Phase 1 partitions by (event_type, event_id % SALTS): parallelism
    is |groups|×SALTS and each task keeps only its local top-k, so the
    phase-2 window reads at most k×SALTS rows per group instead of the
    whole table.  Exact same answer as the single-window strategy
    (row_number is a monotone filter: every global top-k row is a
    local top-k row in its salt) — tests/test_grouped_topk.py asserts
    equality against grouped_topk_window, and the oracle checks the
    result against plain SQL row_number.

    This is the grouped analogue of q19_topk's TakeOrderedAndProject
    (per-partition heap, then merge) which Spark only provides for
    global top-k."""
    ev = load_table(spark, sf_dir, "events")
    w1 = Window.partitionBy("event_type", "salt").orderBy(
        F.col("value").desc_nulls_last(), F.col("event_id").asc()
    )
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("value").desc_nulls_last(), F.col("event_id").asc()
    )
    return (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.pmod("event_id", F.lit(GROUPED_TOPK_SALTS)).alias("salt"),
        )
        .withColumn("local_rank", F.row_number().over(w1))
        .filter(F.col("local_rank") <= k)
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("event_type", "event_id", "value", "rank")
    )


WEIGHTED_SAMPLE_K = 16
# 13 md5 hex digits = 52 bits: exact in BIGINT and double.
_WS_DENOM = float(16**13) + 1.0


def rel_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir sample (A-Res, Efraimidis &
    Spirakis): per event_type, keep the K events with the largest
    priority ln(u)/w, where u ∈ (0,1] is a content-derived md5 hash
    of the event id and w the event's weight (value > 0).  Heavier
    rows get priorities closer to 0, hence are likelier to survive —
    the classic one-pass weighted sample, with the engine's md5 rule
    standing in for the RNG so the sample is reproducible across
    engines, runs, and cluster topologies.

    The priority is floor-rounded at 1e-9 before ranking (ln differs
    across libm implementations in the last ulp; the tie-break on
    event_id makes the rounded ordering total).  Scale: one window
    shuffle on the group key; per-group state is the K-row heap —
    this is the mergeable-sample property A-Res is chosen for."""
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        # A-Res is defined for POSITIVE weights only; a zero weight is
        # also an ANSI divide-by-zero (one appeared at sf0.1).
        .filter(F.col("value") > 0)
    )
    u = (hex_int(F.md5(F.col("event_id").cast("string")), 1, 13) + 1) / F.lit(
        _WS_DENOM
    )
    pr = F.floor(F.log(u) / F.col("value") * 1e9 + 0.5) / 1e9
    w = Window.partitionBy("event_type").orderBy(
        F.col("pr").desc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("pr", pr)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WEIGHTED_SAMPLE_K)
        .select(
            "event_type",
            F.col("rn").cast("long").alias("rn"),
            "event_id",
        )
    )


RANGE_FRAME_US = 3_600_000_000  # trailing 1 hour


def rel_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-range window aggregate: per user, the 1-hour
    trailing event count and value sum at every event — RANGE frames
    keyed on the µs epoch, the time-series twin of q18's ROWS frame.

    RANGE frames make tie handling deterministic (all peer rows with
    the same timestamp are in-frame on both engines regardless of
    physical order).  One shuffle on user_id; frame state is bounded
    by events-per-hour-per-user."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_us().alias("ts_us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-RANGE_FRAME_US, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_n"),
        round6(F.sum("value").over(w)).alias("trailing_sum"),
    )


def rel_bitwise_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar-function family (AND/OR/XOR, shifts,
    popcount) — sharded-id arithmetic every partitioner/bucketing
    scheme leans on.  Pure codegen projection, no shuffle."""
    e = load_table(spark, sf_dir, "events").select("event_id")
    return e.select(
        "event_id",
        F.expr("event_id & 255").cast("long").alias("band"),
        F.expr("event_id | 4096").cast("long").alias("bor"),
        F.expr("event_id ^ 1365").cast("long").alias("bxor"),
        F.shiftright("event_id", 3).cast("long").alias("shr3"),
        F.shiftleft(F.expr("event_id & 15"), 2).cast("long").alias("shl2"),
        F.bit_count("event_id").cast("long").alias("popcount"),
    )


def rel_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum — the cross-engine /
    cross-replica integrity audit (does the replicated or migrated
    table hold EXACTLY these rows?).  Each row renders to a canonical
    string (floats as exact cents, no timestamp types), hashes to a
    64-bit int via md5, and the table fingerprint is the (count, sum,
    xor) of row hashes — all three mergeable, so the audit is one
    map-side-combined scan with a single-row shuffle, and fingerprints
    of partitions/shards combine associatively at any scale.

    The oracle match IS the use case: DuckDB computing the identical
    fingerprint from its copy proves row-level equality without
    moving either table."""
    o = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"),
    )
    h = hex_int(F.md5(canon))
    return o.select(h.alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("h").cast("long").alias("sum_hash"),
        F.expr("bit_xor(h)").cast("long").alias("xor_hash"),
    )


QUERIES = {
    "rel_table_fingerprint": rel_table_fingerprint,
    "q01_scan_project": q01_scan_project,
    "q02_project_exclude": q02_project_exclude,
    "q03_null_filter": q03_null_filter,
    "q04_label_derive": q04_label_derive,
    "q05_compound_filter": q05_compound_filter,
    "q06_inner_join": q06_inner_join,
    "q07_broadcast_dim_join": q07_broadcast_dim_join,
    "q08_left_join": q08_left_join,
    "q09_semi_join": q09_semi_join,
    "q10_anti_join": q10_anti_join,
    "q11_hash_agg": q11_hash_agg,
    "q12_distinct_agg": q12_distinct_agg,
    "q13_cardinality": q13_cardinality,
    "q14_approx_distinct": q14_approx_distinct,
    "rel_approx_quantile": rel_approx_quantile,
    "q15_rollup": q15_rollup,
    "q16_window_keep_first": q16_window_keep_first,
    "q17_window_lag": q17_window_lag,
    "q18_window_running_sum": q18_window_running_sum,
    "q19_topk": q19_topk,
    "q20_set_ops": q20_set_ops,
    "q21_string_fns": q21_string_fns,
    "q22_date_fns": q22_date_fns,
    "q23_math_fns": q23_math_fns,
    "q24_exact_dedup": q24_exact_dedup,
    "rel_cube": rel_cube,
    "rel_json_fns": rel_json_fns,
    "rel_percentile": rel_percentile,
    "rel_sessionize": rel_sessionize,
    "rel_pivot": rel_pivot,
    "rel_explode": rel_explode,
    "rel_funnel": rel_funnel,
    "rel_profile": rel_profile,
    "rel_unpivot": rel_unpivot,
    "rel_rank_family": rel_rank_family,
    "rel_array_fns": rel_array_fns,
    "rel_conditional_fns": rel_conditional_fns,
    "rel_string_pad_fns": rel_string_pad_fns,
    "rel_map_fns": rel_map_fns,
    "rel_grouping_sets": rel_grouping_sets,
    "rel_range_join": rel_range_join,
    "rel_grouped_topk": rel_grouped_topk,
    "rel_asof_join": rel_asof_join,
    "rel_stratified_sample": rel_stratified_sample,
    "rel_time_rollup": rel_time_rollup,
    "rel_stats_fns": rel_stats_fns,
    "rel_incremental_agg": rel_incremental_agg,
    "rel_histogram_quantile": rel_histogram_quantile,
    "rel_event_pattern": rel_event_pattern,
    "rel_kmv_distinct": rel_kmv_distinct,
    "rel_kmv_setops": rel_kmv_setops,
    "rel_weighted_sample": rel_weighted_sample,
    "rel_range_frame": rel_range_frame,
    "rel_bitwise_fns": rel_bitwise_fns,
    "rel_variant_fns": rel_variant_fns,
    "rel_zorder_key": rel_zorder_key,
}

ORACLES = {
    "rel_table_fingerprint": (
        "WITH h AS (SELECT ('0x' || substr(md5(concat_ws('|',"
        "   o_orderkey::VARCHAR, o_custkey::VARCHAR, o_orderstatus,"
        "   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)::VARCHAR)),"
        "   1, 8))::BIGINT AS h FROM orders)"
        " SELECT CAST(count(*) AS BIGINT) AS n_rows,"
        " CAST(sum(h) AS BIGINT) AS sum_hash,"
        " CAST(bit_xor(h) AS BIGINT) AS xor_hash FROM h"
    ),
    "q01_scan_project": "SELECT l_orderkey, l_quantity FROM lineitem",
    "q02_project_exclude": (
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
        " l_extendedprice, l_discount, l_tax, strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate"
        " FROM lineitem"
    ),
    "q03_null_filter": (
        "SELECT event_id, user_id, event_type, value FROM events"
        " WHERE value IS NOT NULL"
    ),
    "q04_label_derive": (
        "SELECT event_id, CASE WHEN value > 40 THEN 1.0 ELSE 0.0 END AS delayed"
        " FROM events"
    ),
    "q05_compound_filter": (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice"
        " FROM lineitem"
        " WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ),
    "q06_inner_join": (
        "SELECT o_orderkey, o_custkey, o_totalprice, c_name"
        " FROM orders JOIN customer ON o_custkey = c_custkey"
    ),
    "q07_broadcast_dim_join": (
        "SELECT c_custkey, c_name, n_name, r_name"
        " FROM customer"
        " JOIN nation ON c_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
    ),
    "q08_left_join": (
        "SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders"
        " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
        " GROUP BY c_custkey"
    ),
    "q09_semi_join": (
        "SELECT c_custkey, c_name FROM customer"
        " WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    ),
    "q10_anti_join": (
        "SELECT c_custkey, c_name FROM customer"
        " WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    ),
    "q11_hash_agg": (
        "SELECT l_returnflag, l_linestatus,"
        " SUM(l_quantity) AS sum_qty,"
        " AVG(l_extendedprice) AS avg_price,"
        " COUNT(*) AS cnt_order"
        " FROM lineitem GROUP BY l_returnflag, l_linestatus"
    ),
    "q12_distinct_agg": (
        "SELECT event_type, COUNT(DISTINCT user_id) AS uniq_users"
        " FROM events GROUP BY event_type"
    ),
    "q13_cardinality": (
        "SELECT COUNT(DISTINCT event_type) AS event_type_card,"
        " COUNT(DISTINCT user_id) AS user_id_card FROM events"
    ),
    "rel_map_fns": (
        "SELECT l_orderkey, l_linenumber,"
        " CAST(cardinality(map(['qty', 'tax'],"
        "   [CAST(l_quantity AS DOUBLE), CAST(l_tax AS DOUBLE)])) AS BIGINT)"
        "   AS n_entries,"
        " array_to_string(map_keys(map(['qty', 'tax'],"
        "   [CAST(l_quantity AS DOUBLE), CAST(l_tax AS DOUBLE)])), ',')"
        "   AS keys_str,"
        " map_extract(map(['qty', 'tax'],"
        "   [CAST(l_quantity AS DOUBLE), CAST(l_tax AS DOUBLE)]), 'qty')[1]"
        "   AS qty_val,"
        " map_extract(map(['qty', 'tax'],"
        "   [CAST(l_quantity AS DOUBLE), CAST(l_tax AS DOUBLE)]), 'tax')[1]"
        "   AS tax_val"
        " FROM lineitem WHERE l_orderkey < 100"
    ),
    "rel_grouping_sets": (
        "SELECT o_orderstatus, o_orderpriority,"
        " CAST(COUNT(*) AS BIGINT) AS cnt,"
        " CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid"
        " FROM orders"
        " GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"
    ),
    "rel_stats_fns": (
        f"WITH b AS (SELECT event_type, value,"
        f"   CAST(epoch_us(ts) // {US_PER_DAY} AS DOUBLE) AS day_idx FROM events)"
        " SELECT event_type,"
        " floor(corr(value, day_idx) * 1e6 + 0.5) / 1e6 AS corr_value_day,"
        " floor(stddev_samp(value) * 1e6 + 0.5) / 1e6 AS stddev_value,"
        " floor(var_samp(value) * 1e6 + 0.5) / 1e6 AS var_value,"
        " floor(avg(value) * 1e6 + 0.5) / 1e6 AS avg_value"
        " FROM b GROUP BY event_type"
    ),
    "rel_histogram_quantile": (
        "WITH v AS (SELECT event_type, value FROM events"
        "   WHERE value IS NOT NULL),"
        " bounds AS (SELECT event_type AS b_type, MIN(value) AS mn,"
        "   MAX(value) AS mx FROM v GROUP BY 1),"
        " binned AS (SELECT event_type, mn, mx,"
        "   CASE WHEN mx = mn THEN 0 ELSE"
        f"     least(floor((value - mn) / (mx - mn) * {HIST_BINS}),"
        f"       {HIST_BINS - 1}) END AS bin"
        "   FROM v JOIN bounds ON event_type = b_type),"
        " hist AS (SELECT event_type, mn, mx, CAST(bin AS BIGINT) AS bin,"
        "   COUNT(*) AS cnt FROM binned GROUP BY 1, 2, 3, 4),"
        " cum AS (SELECT *,"
        "   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,"
        "   SUM(cnt) OVER (PARTITION BY event_type) AS total"
        "   FROM hist)"
        " SELECT event_type,"
        f" floor(MIN(CASE WHEN cum >= 0.5 * total THEN mn + (bin + 1.0) / {HIST_BINS} * (mx - mn) END) * 1e6 + 0.5) / 1e6 AS p50_est,"
        f" floor(MIN(CASE WHEN cum >= 0.9 * total THEN mn + (bin + 1.0) / {HIST_BINS} * (mx - mn) END) * 1e6 + 0.5) / 1e6 AS p90_est,"
        f" floor(MIN(CASE WHEN cum >= 0.99 * total THEN mn + (bin + 1.0) / {HIST_BINS} * (mx - mn) END) * 1e6 + 0.5) / 1e6 AS p99_est"
        " FROM cum GROUP BY event_type"
    ),
    "rel_incremental_agg": (
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,"
        " SUM(value) AS sum_value, MIN(value) AS min_value,"
        " MAX(value) AS max_value"
        " FROM events GROUP BY event_type"
    ),
    "rel_kmv_distinct": (
        "WITH d AS (SELECT DISTINCT event_type, user_id FROM events),"
        " h AS (SELECT event_type,"
        "   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT"
        f"     / {KMV_SCALE!r} AS u FROM d),"
        " r AS (SELECT event_type, u, row_number() OVER ("
        "   PARTITION BY event_type ORDER BY u) AS rn FROM h),"
        " kmin AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,"
        f"   max(u) AS kth FROM r WHERE rn <= {KMV_K} GROUP BY 1)"
        " SELECT event_type, n_kept,"
        f" floor((CASE WHEN n_kept < {KMV_K} THEN n_kept"
        f"   ELSE ({KMV_K} - 1) / kth END) * 1e6 + 0.5) / 1e6 AS est_distinct"
        " FROM kmin"
    ),
    "rel_kmv_setops": (
        "WITH d AS (SELECT DISTINCT event_type, user_id FROM events),"
        " h AS (SELECT event_type,"
        "   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT"
        f"     / {KMV_SCALE!r} AS u FROM d),"
        " r AS (SELECT event_type, u, row_number() OVER ("
        "   PARTITION BY event_type ORDER BY u) AS rn FROM h),"
        " th AS (SELECT event_type,"
        f"   CASE WHEN count(*) < {KMV_K} THEN 1.0"
        f"     ELSE max(CASE WHEN rn <= {KMV_K} THEN u END) END AS theta"
        "   FROM r GROUP BY 1),"
        f" km AS (SELECT event_type, u FROM r WHERE rn <= {KMV_K}),"
        " pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,"
        "   least(a.theta, b.theta) AS th FROM th a JOIN th b"
        "   ON a.event_type < b.event_type),"
        " sa AS (SELECT p.type_a, p.type_b, k.u, p.th FROM pairs p"
        "   JOIN km k ON k.event_type = p.type_a AND k.u < p.th),"
        " sb AS (SELECT p.type_a, p.type_b, k.u, p.th FROM pairs p"
        "   JOIN km k ON k.event_type = p.type_b AND k.u < p.th),"
        " un AS (SELECT type_a, type_b,"
        "   CAST(count(DISTINCT u) AS BIGINT) AS n_union_sample,"
        "   min(th) AS th FROM"
        "   (SELECT * FROM sa UNION ALL SELECT * FROM sb) GROUP BY 1, 2),"
        " it AS (SELECT sa.type_a, sa.type_b,"
        "   CAST(count(*) AS BIGINT) AS n_inter_sample FROM sa JOIN sb"
        "   ON sa.type_a = sb.type_a AND sa.type_b = sb.type_b"
        "     AND sa.u = sb.u GROUP BY 1, 2)"
        " SELECT un.type_a, un.type_b, un.n_union_sample,"
        " CAST(coalesce(it.n_inter_sample, 0) AS BIGINT) AS n_inter_sample,"
        " floor(un.n_union_sample / un.th * 1e6 + 0.5) / 1e6 AS est_union,"
        " floor(coalesce(it.n_inter_sample, 0) / un.th * 1e6 + 0.5) / 1e6"
        "   AS est_inter"
        " FROM un LEFT JOIN it"
        " ON un.type_a = it.type_a AND un.type_b = it.type_b"
    ),
    "rel_weighted_sample": (
        "WITH p AS (SELECT event_type, event_id,"
        "   floor(ln((('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))"
        f"     ::BIGINT + 1) / {_WS_DENOM!r}) / value * 1e9 + 0.5) / 1e9 AS pr"
        "   FROM events WHERE value > 0),"
        " r AS (SELECT event_type, event_id, row_number() OVER ("
        "   PARTITION BY event_type ORDER BY pr DESC, event_id ASC) AS rn"
        "   FROM p)"
        " SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id FROM r"
        f" WHERE rn <= {WEIGHTED_SAMPLE_K}"
    ),
    "rel_range_frame": (
        "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value"
        "   FROM events)"
        " SELECT user_id, event_id, ts_us,"
        " CAST(count(*) OVER w AS BIGINT) AS trailing_n,"
        " floor(sum(value) OVER w * 1e6 + 0.5) / 1e6 AS trailing_sum"
        " FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us"
        f"   RANGE BETWEEN {RANGE_FRAME_US} PRECEDING AND CURRENT ROW)"
    ),
    "rel_zorder_key": (
        "SELECT event_id,"
        " CAST(user_id % 256 AS BIGINT) AS x,"
        " CAST(event_id % 256 AS BIGINT) AS y,"
        f" CAST({_morton_expr('user_id % 256', 'event_id % 256')} AS BIGINT)"
        "   AS zkey"
        " FROM events"
    ),
    "rel_variant_fns": (
        "SELECT event_id,"
        " json_extract(props, '$.k')::BIGINT AS k,"
        " json_extract(props, '$.k')::BIGINT % 10 AS k_mod,"
        " json_extract(props, '$.missing')::BIGINT AS missing_path,"
        " json_extract_string(props, '$.k') AS k_str"
        " FROM events"
    ),
    "rel_bitwise_fns": (
        "SELECT event_id,"
        " CAST(event_id & 255 AS BIGINT) AS band,"
        " CAST(event_id | 4096 AS BIGINT) AS bor,"
        " CAST(xor(event_id, 1365) AS BIGINT) AS bxor,"
        " CAST(event_id >> 3 AS BIGINT) AS shr3,"
        " CAST((event_id & 15) << 2 AS BIGINT) AS shl2,"
        " CAST(bit_count(event_id) AS BIGINT) AS popcount"
        " FROM events"
    ),
    "rel_event_pattern": (
        "WITH t AS (SELECT user_id,"
        "   string_agg(substr(event_type, 1, 1), ''"
        "     ORDER BY epoch_us(ts), event_id) AS seq"
        "   FROM events GROUP BY user_id)"
        " SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,"
        " CAST(CASE WHEN regexp_matches(seq, 's.*c.*p') THEN 1 ELSE 0 END"
        "   AS BIGINT) AS has_funnel,"
        " CAST(len(regexp_extract_all(seq, 'cp')) AS BIGINT)"
        "   AS n_click_purchase"
        " FROM t"
    ),
    "rel_time_rollup": (
        f"WITH b AS (SELECT (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} AS day_us,"
        f"   (epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR} AS hour_us,"
        "   event_type, value FROM events"
        f"   WHERE epoch_us(ts) >= {ROLLUP_CUTOFF_US})"
        " SELECT day_us, hour_us, event_type,"
        " CAST(COUNT(*) AS BIGINT) AS n_events, SUM(value) AS sum_value,"
        " CAST(GROUPING(day_us, hour_us, event_type) AS BIGINT) AS gid"
        " FROM b GROUP BY GROUPING SETS ((day_us, hour_us, event_type),"
        "   (day_us, event_type), (day_us), ())"
    ),
    "rel_asof_join": (
        "WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS us,"
        "   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_left"
        "   FROM events WHERE event_type IN ('view', 'purchase')),"
        " m AS (SELECT *,"
        "   last_value(CASE WHEN is_left = 0 THEN event_id END IGNORE NULLS)"
        "     OVER w AS view_event_id,"
        "   last_value(CASE WHEN is_left = 0 THEN us END IGNORE NULLS)"
        "     OVER w AS view_us"
        "   FROM t WINDOW w AS (PARTITION BY user_id"
        "     ORDER BY us, is_left, event_id"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
        " SELECT event_id AS purchase_event_id, user_id,"
        "   us AS purchase_us, view_event_id, view_us"
        " FROM m WHERE is_left = 1"
    ),
    "rel_stratified_sample": (
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled,"
        " CAST(MIN(event_id) AS BIGINT) AS min_event_id,"
        " CAST(MAX(event_id) AS BIGINT) AS max_event_id"
        " FROM events"
        " WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT"
        f"   % {SAMPLE_MOD} < {SAMPLE_KEEP}"
        " GROUP BY event_type"
    ),
    "rel_grouped_topk": (
        "SELECT event_type, event_id, value, rank FROM ("
        "  SELECT event_type, event_id, value,"
        "    row_number() OVER (PARTITION BY event_type"
        "      ORDER BY value DESC NULLS LAST, event_id ASC) AS rank"
        "  FROM events) WHERE rank <= 3"
    ),
    "rel_range_join": (
        "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us"
        "   FROM events WHERE user_id < 20)"
        " SELECT a.event_id AS event_id, b.event_id AS prev_event_id,"
        " a.user_id AS user_id"
        " FROM e a JOIN e b ON a.user_id = b.user_id"
        "   AND b.us < a.us AND b.us >= a.us - 300000000"
    ),
    # q14_approx_distinct: intentionally no oracle (engine-specific HLL).
    "q15_rollup": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt"
        " FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"
    ),
    "q16_window_keep_first": (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn"
        "  FROM orders) WHERE rn = 1"
    ),
    "q17_window_lag": (
        "SELECT event_id, user_id,"
        " value - lag(value) OVER ("
        "   PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS value_delta"
        " FROM events"
    ),
    "q18_window_running_sum": (
        "SELECT o_orderkey, o_custkey,"
        " SUM(o_totalprice) OVER ("
        "   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total"
        " FROM orders"
    ),
    "q19_topk": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        " ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
    ),
    "q20_set_ops": (
        "WITH a AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000),"
        " b AS (SELECT o_orderkey, o_orderstatus FROM orders"
        "       WHERE o_orderkey >= 500 AND o_orderkey < 1500)"
        " SELECT 'union_all' AS op, * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)"
        " UNION ALL"
        " SELECT 'intersect' AS op, * FROM (SELECT * FROM a INTERSECT SELECT * FROM b)"
        " UNION ALL"
        " SELECT 'except_all' AS op, * FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)"
    ),
    "q21_string_fns": (
        "SELECT doc_id, lower(trim(text)) AS text_norm,"
        " CAST(length(text) AS BIGINT) AS text_len,"
        " regexp_extract(text, '^\\s*(\\w+)', 1) AS first_word,"
        " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens"
        " FROM documents"
    ),
    "q22_date_fns": (
        "SELECT l_orderkey, l_linenumber,"
        " CAST(year(l_shipdate) AS BIGINT) AS ship_year,"
        " CAST(month(l_shipdate) AS BIGINT) AS ship_month,"
        " CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))"
        "      AS BIGINT) AS days_to_ship"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ),
    "q23_math_fns": (
        "SELECT l_orderkey, l_linenumber,"
        " floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS disc_price,"
        " abs(l_discount - l_tax) AS abs_disc_tax,"
        " ln(l_extendedprice + 1) AS ln_price"
        " FROM lineitem"
    ),
    "q24_exact_dedup": (
        "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, lang, COUNT(*) AS n_dupes"
        " FROM documents GROUP BY text, lang"
    ),
    "rel_cube": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,"
        " SUM(o_totalprice) AS sum_price"
        " FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"
    ),
    "rel_json_fns": (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k"
        " FROM events"
    ),
    "rel_percentile": (
        "SELECT event_type, quantile_cont(value, 0.5) AS median_value"
        " FROM events GROUP BY event_type"
    ),
    "rel_sessionize": (
        "WITH base AS (SELECT event_id, user_id, value, epoch_us(ts) AS t"
        "   FROM events),"
        " gaps AS (SELECT *, CASE WHEN t - lag(t) OVER ("
        "     PARTITION BY user_id ORDER BY t, event_id) > 1800000000"
        "     THEN 1 ELSE 0 END AS is_new FROM base),"
        " sess AS (SELECT *, CAST(sum(is_new) OVER ("
        "     PARTITION BY user_id ORDER BY t, event_id"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        "     AS session_id FROM gaps)"
        " SELECT user_id, session_id, COUNT(*) AS n_events,"
        " min(t) AS session_start_us, max(t) AS session_end_us,"
        " SUM(value) AS session_value"
        " FROM sess GROUP BY user_id, session_id"
    ),
    "rel_pivot": (
        "SELECT o_orderpriority,"
        " COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,"
        " COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,"
        " COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p"
        " FROM orders GROUP BY o_orderpriority"
    ),
    "rel_explode": (
        "SELECT doc_id,"
        " CAST(generate_subscripts(string_split(lower(trim(text)), ' '), 1) - 1"
        "      AS BIGINT) AS pos,"
        " unnest(string_split(lower(trim(text)), ' ')) AS token"
        " FROM documents WHERE doc_id < 50"
    ),
    "rel_funnel": (
        "WITH steps AS (SELECT user_id,"
        "   min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,"
        "   max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)"
        "     AS t_last_purchase"
        "   FROM events GROUP BY user_id)"
        " SELECT user_id,"
        " CAST(t_signup IS NOT NULL AS BIGINT) AS did_signup,"
        " coalesce(CAST(t_signup IS NOT NULL AND t_last_purchase > t_signup"
        "   AS BIGINT), 0) AS converted"
        " FROM steps"
    ),
    "rel_conditional_fns": (
        "SELECT l_orderkey, l_linenumber,"
        " coalesce(nullif(l_discount, 0.0), -1.0) AS disc_or_flag,"
        " greatest(l_discount, l_tax) AS max_rate,"
        " least(l_discount, l_tax) AS min_rate,"
        " CASE WHEN l_quantity < 10 THEN 'low'"
        "      WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band"
        " FROM lineitem"
    ),
    "rel_string_pad_fns": (
        "SELECT c_custkey,"
        " lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,"
        " concat_ws('|', c_name, c_mktsegment) AS tagged,"
        " substr(c_name, 1, 8) AS name_prefix,"
        " replace(c_name, 'Customer', 'Cust') AS short_name,"
        " reverse(c_mktsegment) AS seg_rev"
        " FROM customer"
    ),
    "rel_rank_family": (
        "SELECT o_orderkey, o_orderstatus,"
        " CAST(rank() OVER w AS BIGINT) AS rnk,"
        " CAST(dense_rank() OVER w AS BIGINT) AS drnk,"
        " CAST(ntile(4) OVER w AS BIGINT) AS quartile,"
        " first_value(o_orderkey) OVER w AS top_order"
        " FROM orders WINDOW w AS ("
        "   PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC)"
    ),
    "rel_array_fns": (
        "SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,"
        " list_min(list_transform(embedding, x -> x::DOUBLE)) AS v_min,"
        " list_max(list_transform(embedding, x -> x::DOUBLE)) AS v_max,"
        " list_sum(list_transform(embedding, x -> x::DOUBLE)) AS v_sum"
        " FROM embeddings"
    ),
    "rel_unpivot": (
        "SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,"
        "   l_quantity AS value FROM lineitem"
        " UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount"
        "   FROM lineitem"
        " UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"
    ),
    "rel_profile": (
        "SELECT COUNT(*) AS n_rows,"
        " CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS null_qty,"
        " min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,"
        " min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,"
        " COUNT(DISTINCT l_returnflag) AS n_returnflags,"
        " COUNT(DISTINCT l_partkey) AS n_parts"
        " FROM lineitem"
    ),
}


_SQL_TEXT_REVENUE = """
SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n_orders,
  floor(sum(o_totalprice) * 1e4 + 0.5) / 1e4 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def sql_text_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL TEXT surface under the oracle gate: the exact same
    ANSI string runs through ``sql.run_sql`` (temp views → Catalyst)
    on the Spark side and verbatim through DuckDB as its own oracle —
    proving a user can reach the engine with a query string, not just
    the DataFrame API, and get hash-identical results.  Catalyst
    compiles this to the same broadcast-star plan as
    q07_broadcast_dim_join; the string is dialect-portable by
    construction (shared rounding idiom, explicit casts)."""
    from decision_tree_analytics_spark.sql import run_sql

    return run_sql(spark, sf_dir, _SQL_TEXT_REVENUE)


QUERIES["sql_text_revenue"] = sql_text_revenue
ORACLES["sql_text_revenue"] = _SQL_TEXT_REVENUE


# ------------------------------------------------------------------
# Sorted-neighborhood entity resolution (r6) — the classic SNM of
# Hernandez & Stolfo (SIGMOD '95) made vocabulary-bounded.
SNM_PREFIX = 2      # blocking key: first chars of the sort key
SNM_WINDOW = 3      # lookahead inside a block
SNM_MAX_DIST = 3    # near-miss threshold (exact dups excluded: d >= 1)


def rel_entity_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-miss part-name pairs via sorted-neighborhood matching
    over the DISTINCT-name vocabulary.

    Naive SNM sorts the whole corpus and compares each row to its W
    successors — at 100 TB the duplicate-heavy sort saturates every
    window with copies of the same string.  This runs the method one
    level up: (1) one mergeable groupBy collapses the corpus to its
    name vocabulary (count + canonical min-key per name — the only
    corpus-sized stage); (2) the SNM window — partitionBy 2-char
    prefix block, orderBy name, W=3 codegen leads — runs on the
    vocabulary table, which is bounded by the name domain, not the
    corpus; (3) JVM-side levenshtein keeps pairs with 1 <= d <= 3
    (d = 0 is exact dup territory, owned by q24/dedup_*).  Every
    stage is bounded by construction: corpus work is one partial-agg
    shuffle, pairwise work is |vocab| * W.

    Reference parity: fuzzy-match companion to the reference's exact
    row dedup (SURVEY Q24 contract); blocking-window precedent is
    ns_text_levenshtein, vocabulary-bound precedent ns_text_tfidf_top."""
    p = load_table(spark, sf_dir, "part")
    names = (
        p.select(F.lower(F.trim(F.col("p_name"))).alias("name"), "p_partkey")
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("p_partkey").alias("canon_key"),
        )
    )
    w = Window.partitionBy(F.substring("name", 1, SNM_PREFIX)).orderBy("name")
    leads = names.select(
        "name",
        "n_rows",
        "canon_key",
        *[
            F.struct(
                F.lead("name", i).over(w).alias("b_name"),
                F.lead("n_rows", i).over(w).alias("b_rows"),
                F.lead("canon_key", i).over(w).alias("b_key"),
            ).alias(f"l{i}")
            for i in range(1, SNM_WINDOW + 1)
        ],
    )
    pairs = (
        leads.select(
            F.col("name").alias("a_name"),
            F.col("n_rows").alias("a_rows"),
            F.col("canon_key").alias("a_key"),
            F.explode(F.array(*[f"l{i}" for i in range(1, SNM_WINDOW + 1)])).alias("b"),
        )
        .filter(F.col("b.b_name").isNotNull())
        .select(
            "a_name",
            F.col("b.b_name").alias("b_name"),
            F.levenshtein("a_name", F.col("b.b_name")).cast("long").alias("dist"),
            "a_rows",
            F.col("b.b_rows").alias("b_rows"),
            "a_key",
            F.col("b.b_key").alias("b_key"),
        )
        .filter((F.col("dist") >= 1) & (F.col("dist") <= SNM_MAX_DIST))
    )
    return pairs


QUERIES["rel_entity_snm"] = rel_entity_snm
ORACLES["rel_entity_snm"] = f"""
WITH names AS (
  SELECT lower(trim(p_name)) AS name, CAST(count(*) AS BIGINT) AS n_rows,
         min(p_partkey) AS canon_key
  FROM part GROUP BY 1),
l AS (
  SELECT name, n_rows, canon_key,
    lead(name, 1) OVER w AS n1, lead(n_rows, 1) OVER w AS r1, lead(canon_key, 1) OVER w AS k1,
    lead(name, 2) OVER w AS n2, lead(n_rows, 2) OVER w AS r2, lead(canon_key, 2) OVER w AS k2,
    lead(name, 3) OVER w AS n3, lead(n_rows, 3) OVER w AS r3, lead(canon_key, 3) OVER w AS k3
  FROM names
  WINDOW w AS (PARTITION BY substring(name, 1, {SNM_PREFIX}) ORDER BY name)),
pairs AS (
  SELECT name AS a_name, n1 AS b_name, n_rows AS a_rows, r1 AS b_rows,
         canon_key AS a_key, k1 AS b_key FROM l WHERE n1 IS NOT NULL
  UNION ALL
  SELECT name, n2, n_rows, r2, canon_key, k2 FROM l WHERE n2 IS NOT NULL
  UNION ALL
  SELECT name, n3, n_rows, r3, canon_key, k3 FROM l WHERE n3 IS NOT NULL)
SELECT a_name, b_name, CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist,
       a_rows, b_rows, a_key, b_key
FROM pairs
WHERE levenshtein(a_name, b_name) BETWEEN 1 AND {SNM_MAX_DIST}
"""


# ------------------------------------------------------------------
# Count-min sketch (r6) — completes the mergeable-sketch suite next
# to Misra-Gries (udf_heavy_hitters), KMV (rel_kmv_*), and the bloom
# gate (dedup_bloom_prefilter).
CMS_D = 4        # rows (one per md5 slice — the bloom-gate idiom)
CMS_W = 1024     # columns per row
CMS_PROBE_MIN = 50   # probe tokens must be at least this frequent
CMS_PROBES = 40      # bounded probe set (ORDER BY tok LIMIT n)


def rel_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, with measured
    over-count against exact truth for a bounded probe set.

    The sketch IS a grouped aggregate: every token contributes one
    count to (row j, position_j) for d=4 positions carved from its
    own md5 (8-hex-char slices mod w — dedup_bloom_prefilter's
    engine-portable hashing; engine-seeded hash()/xxhash64 would not
    oracle).  The materialized sketch is at most d*w = 4096 rows
    REGARDLESS of corpus size — a mergeable, broadcastable constant,
    which is the whole point at 100 TB: shards build partial sketches
    map-side (plain partial aggregation), the merge is elementwise
    sum, and the estimate min_j(cell_j) only ever reads 4 cells.
    Probes: the first CMS_PROBES tokens (alphabetic, unique — rule 5)
    with exact count >= CMS_PROBE_MIN; est >= exact is the CMS
    guarantee, surfaced as overcount / rel_err per probe.

    Scale: one exploded-token pass feeds both the sketch groupBy and
    the exact groupBy (persisted, tether_cache-released); the probe
    estimate joins a broadcast 4096-row sketch.  No higher-order
    functions in the hot path (HOF lambdas skip codegen — CLAUDE.md)."""
    from decision_tree_analytics_spark.operators._cache import tether_cache

    d = load_table(spark, sf_dir, "documents")
    d = spread(d, "doc_id")
    toks = d.select(F.explode(tokens()).alias("tok")).persist()

    def pos_cols():
        md = F.md5(F.col("tok"))
        return F.array(*[hex_int(md, 1 + 8 * j, 8) % CMS_W for j in range(CMS_D)])

    posed = toks.select("tok", F.posexplode(pos_cols()).alias("j", "pos"))
    sketch = posed.groupBy("j", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    probes = (
        exact.filter(F.col("n_exact") >= CMS_PROBE_MIN)
        .orderBy("tok")
        .limit(CMS_PROBES)
    )
    ppos = probes.select(
        "tok", "n_exact", F.posexplode(pos_cols()).alias("j", "pos")
    )
    est = (
        ppos.join(F.broadcast(sketch), ["j", "pos"])
        .groupBy("tok", "n_exact")
        .agg(F.min("c").alias("est"))
    )
    result = est.select(
        "tok",
        "n_exact",
        "est",
        (F.col("est") - F.col("n_exact")).alias("overcount"),
        round6(
            (F.col("est") - F.col("n_exact")) / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )
    return tether_cache(result, toks)


QUERIES["rel_countmin_sketch"] = rel_countmin_sketch
ORACLES["rel_countmin_sketch"] = f"""
WITH toks AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents),
posed AS (SELECT tok, j,
    ('0x' || substr(md5(tok), 1 + 8 * j, 8))::BIGINT % {CMS_W} AS pos
  FROM toks, range({CMS_D}) t(j)),
sketch AS (SELECT j, pos, CAST(count(*) AS BIGINT) AS c
  FROM posed GROUP BY 1, 2),
exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
  FROM toks GROUP BY 1),
probes AS (SELECT * FROM exact WHERE n_exact >= {CMS_PROBE_MIN}
  ORDER BY tok LIMIT {CMS_PROBES}),
ppos AS (SELECT tok, n_exact, j,
    ('0x' || substr(md5(tok), 1 + 8 * j, 8))::BIGINT % {CMS_W} AS pos
  FROM probes, range({CMS_D}) t(j)),
est AS (SELECT tok, n_exact, min(c) AS est
  FROM ppos JOIN sketch USING (j, pos) GROUP BY 1, 2)
SELECT tok, n_exact, CAST(est AS BIGINT) AS est,
  CAST(est - n_exact AS BIGINT) AS overcount,
  floor((est - n_exact) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6
    AS rel_err
FROM est
"""


HLL_P = 9
HLL_M = 1 << HLL_P  # 512 registers — error ~1.04/sqrt(m) ≈ 4.6%
HLL_WBITS = 52 - HLL_P  # value bits left of the 52-bit md5 prefix
HLL_RHO_CAP = HLL_WBITS + 1  # rho when every value bit is zero
_HLL_P50 = 1 << 50  # integer register-sum scale: term = 2^(50 - rho)


def rel_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count per event_type — the
    order-INDEPENDENT sibling of rel_kmv_distinct and the portable
    replacement for q14's engine-seeded approx_count_distinct.

    Each distinct user hashes (content-derived md5, rule 6) to a
    52-bit value; the low HLL_P bits pick one of m=512 registers and
    rho = 1 + leading-zero count of the remaining 43 bits (computed
    as an unrolled chain of integer comparisons — log2() would be
    ulp-unsafe, CLAUDE.md rule 10).  The register table is
    max(rho) per (group, register): max is commutative/associative,
    so shards build partials map-side and corpus union is elementwise
    max — the canonical mergeable sketch for 100 TB rollups, at most
    m rows per group regardless of corpus size.  The harmonic sum is
    kept EXACT as the integer  S = Σ 2^(50-rho)  (BIGINT, ≤ 2^59), so
    the estimate is one deterministic double division — no float
    accumulation order anywhere (rule 9).  Small-range branch: when
    raw E ≤ 2.5m and empty registers remain, linear counting
    m·ln(m/V) takes over (nullif-guarded per rule 8; the branch
    condition compares identical doubles on both engines).

    Output per event_type: exact distinct, registers hit, the HLL
    estimate, and measured |est-exact|/exact — the accuracy readout.

    Scale: one distinct shuffle (shared shape with rel_kmv_distinct)
    + one ≤ |types|·m register aggregate; everything after operates
    on sketch rows only."""
    d = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .persist()  # feeds both the register build and exact truth
    )
    h = d.select(
        "event_type",
        hex_int(F.md5(F.col("user_id").cast("string")), 1, 13).alias("hv"),
    )
    b = h.select(
        "event_type",
        (F.col("hv") % HLL_M).alias("idx"),
        F.expr(f"hv div {HLL_M}").alias("w"),
    )
    bits = [
        F.when(F.col("w") >= (1 << j), 1).otherwise(0)
        for j in range(HLL_WBITS)
    ]
    bitlen = sum(bits[1:], bits[0])
    regs = (
        b.select("event_type", "idx", (F.lit(HLL_RHO_CAP) - bitlen).alias("rho"))
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("r"))
    )
    per = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(50) - F.col("r")).cast("long")
        )
        .cast("long")
        .alias("s_hit"),
    )
    exact = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(512.0))
    s_total = F.col("s_hit") + (F.lit(HLL_M) - F.col("n_hit")) * F.lit(_HLL_P50)
    e_raw = (
        alpha
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(_HLL_P50))
        / s_total.cast("double")
    )
    v = F.lit(HLL_M) - F.col("n_hit")
    lin = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.nullif(v.cast("double"), F.lit(0.0))
    )
    est = F.when((e_raw <= F.lit(2.5 * HLL_M)) & (v > 0), lin).otherwise(e_raw)
    est_r = round6(est)
    joined = per.join(exact, "event_type")
    result = joined.select(
        "event_type",
        "n_exact",
        "n_hit",
        est_r.alias("est_hll"),
        round6(
            F.abs(est_r - F.col("n_exact")) / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )
    return tether_cache(result, d)


_HLL_BITLEN_SQL = " + ".join(
    f"(CASE WHEN w >= {1 << j} THEN 1 ELSE 0 END)" for j in range(HLL_WBITS)
)

QUERIES["rel_hll_sketch"] = rel_hll_sketch
ORACLES["rel_hll_sketch"] = f"""
WITH d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uid
  FROM events),
h AS (SELECT event_type, ('0x' || substr(md5(uid), 1, 13))::BIGINT AS hv
  FROM d),
b AS (SELECT event_type, hv % {HLL_M} AS idx, hv // {HLL_M} AS w FROM h),
r AS (SELECT event_type, idx, max({HLL_RHO_CAP} - ({_HLL_BITLEN_SQL})) AS r
  FROM b GROUP BY 1, 2),
per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hit,
    CAST(sum(CAST(pow(2, 50 - r) AS BIGINT)) AS BIGINT) AS s_hit
  FROM r GROUP BY 1),
exact AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
  FROM d GROUP BY 1),
c AS (SELECT event_type, n_exact, n_hit,
    (7.213e-1 / (1e0 + 1.079e0 / 5.12e2)) * 2.62144e5
      * 1.125899906842624e15
      / CAST(s_hit + ({HLL_M} - n_hit) * {_HLL_P50} AS DOUBLE) AS e_raw,
    {HLL_M} - n_hit AS v
  FROM per JOIN exact USING (event_type)),
est AS (SELECT event_type, n_exact, n_hit,
    floor((CASE WHEN e_raw <= 1.28e3 AND v > 0
      THEN 5.12e2 * ln(5.12e2 / nullif(CAST(v AS DOUBLE), 0e0))
      ELSE e_raw END) * 1e6 + 0.5) / 1e6 AS est_hll
  FROM c)
SELECT event_type, n_exact, n_hit, est_hll,
  floor(abs(est_hll - n_exact) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6
    AS rel_err
FROM est
"""


# ---------------------------------------------------------------------------
# rel_gaps_islands — gaps-and-islands activity-streak detection: per
# user, group DISTINCT active days into maximal consecutive runs with
# the classic day − row_number() constant-per-island key, then report
# streak counts and the deterministically-picked longest streak
# (length DESC, start day ASC tie-break — rule 5).  One distinct
# shuffle on (user, day) followed by user-partitioned windows; island
# state is per-user-bounded, no self-joins, so the plan is the same at
# 100 TB (the window never sees more rows than the user's active
# days).  Day key: epoch-µs integer division (rule 1 — never float).
def rel_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = ts_bucket(US_PER_DAY)
    days = ev.select("user_id", day.alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn("grp", F.col("day") - F.row_number().over(w))
    streaks = grp.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("start_day"),
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_day")
    )
    ranked = streaks.withColumn("rk", F.row_number().over(w2))
    return ranked.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max(F.when(F.col("rk") == 1, F.col("len"))).alias("longest_streak"),
        F.max(F.when(F.col("rk") == 1, F.col("start_day"))).alias(
            "longest_start_day"
        ),
    )


QUERIES["rel_gaps_islands"] = rel_gaps_islands
ORACLES["rel_gaps_islands"] = """
WITH days AS (SELECT DISTINCT user_id,
    epoch_us(ts) // 86400000000 AS day FROM events),
grp AS (SELECT user_id, day,
    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days),
streaks AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
    min(day) AS start_day FROM grp GROUP BY 1, 2),
ranked AS (SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY len DESC, start_day) AS rk FROM streaks)
SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
  CAST(count(*) AS BIGINT) AS n_streaks,
  MAX(CASE WHEN rk = 1 THEN len END) AS longest_streak,
  MAX(CASE WHEN rk = 1 THEN start_day END) AS longest_start_day
FROM ranked GROUP BY 1
"""


def rel_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution for the signup→purchase funnel:
    per converting user, the time from FIRST signup to the FIRST
    purchase after it, summarized as p25/p50/p90 — rel_funnel reports
    who converts; this reports how long conversion takes (the metric
    that actually drives funnel work).

    One conditional aggregate collapses signups per user; the fact
    stream then joins that per-user table ONCE on user_id (both sides
    already keyed, one co-partitioned shuffle) and a min-aggregate
    picks the first qualifying purchase; the percentile runs on the
    collapsed per-user latencies.  Latencies are exact integer µs, and
    Spark's exact ``percentile`` ≡ DuckDB's ``quantile_cont`` (both
    interpolate at rank p·(n−1); interpolation between exact integers
    is the identical single IEEE op on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    us = ts_us()
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("t_signup")
    )
    purch = (
        ev.select("user_id", F.col("event_type"), us.alias("t"))
        .join(per_user, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("t") > F.col("t_signup"))
        )
        .groupBy("user_id")
        .agg(
            F.min(F.col("t") - F.col("t_signup")).cast("long").alias("latency_us")
        )
    )
    return purch.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        round6(F.percentile("latency_us", 0.25)).alias("p25_us"),
        round6(F.percentile("latency_us", 0.5)).alias("p50_us"),
        round6(F.percentile("latency_us", 0.9)).alias("p90_us"),
        F.min("latency_us").cast("long").alias("min_us"),
        F.max("latency_us").cast("long").alias("max_us"),
    )


QUERIES["rel_funnel_latency"] = rel_funnel_latency
ORACLES["rel_funnel_latency"] = """
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup
  FROM events GROUP BY user_id),
conv AS (
  SELECT e.user_id,
    CAST(min(epoch_us(e.ts) - p.t_signup) AS BIGINT) AS latency_us
  FROM events e JOIN per_user p ON e.user_id = p.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > p.t_signup
  GROUP BY e.user_id)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
  floor(quantile_cont(latency_us, 0.25) * 1e6 + 0.5) / 1e6 AS p25_us,
  floor(quantile_cont(latency_us, 0.5) * 1e6 + 0.5) / 1e6 AS p50_us,
  floor(quantile_cont(latency_us, 0.9) * 1e6 + 0.5) / 1e6 AS p90_us,
  CAST(min(latency_us) AS BIGINT) AS min_us,
  CAST(max(latency_us) AS BIGINT) AS max_us
FROM conv
"""
