"""Classic TPC-H query shapes adapted to the testdata star schema.

Q01 (the flagship) lives in relational.py as q11_hash_agg; this module
adds the canonical multi-way-join shapes — Q3 (join+agg+top-k), Q5
(5-way star with dim broadcast), Q10 (returned items), Q18 (having +
semi-join on an aggregate) — each column-adapted to the columns the
synthetic tables actually have (FIXTURES.md §B).

These are the queries where Catalyst's join reordering, broadcast
selection, and AQE earn their keep; the plans are left entirely to
the optimizer on purpose (only bounded dims get explicit broadcast
hints).  Date filters use ISO string comparison against timestamp_ntz
(timezone-free on both engines); date outputs render as ISO strings.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from decision_tree_analytics_spark.operators._round import round6
from decision_tree_analytics_spark.sources.tables import load_table


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of undelivered orders for one market segment: 3-way
    join, aggregate, top-10 by revenue."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(rev)
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue where customer and supplier share a nation, per nation:
    5-way join; nation/region broadcast, customer–supplier co-location
    expressed as an equi-condition the optimizer can use."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(rev)
    )


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned items, ranked by lost revenue (top-20)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev)
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold (HAVING over a
    child aggregate, then join back to headers)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade volume between two nations per ship year (customer nation
    × supplier nation matrix through orders/lineitem)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("c_nationkey") == F.col("c_nk"))
        .join(n2, F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(rev)
    )


def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — EXISTS as a left-semi join with a non-equi extra
    condition: orders in a six-month window that had at least one line
    shipped more than 60 days after the order date, counted per
    priority.  (The synthetic lineitem has no commit/receipt dates;
    ship-lag plays the lateness role.)

    Scale: the semi-join stops probing an order on its first late
    line — no fact×fact blow-up; the date window pushes to the
    orders scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape — pure scan-aggregate: one-year ship window, discount
    band, small quantities; the whole query is a pushed-filter scan
    plus a single global sum (zero joins, one partial-agg shuffle of
    one row per partition)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — distribution of orders per customer including the
    zero bucket: left join, per-customer count, then count-of-counts.
    Two aggregations, each with map-side partials; the second one's
    key space is tiny (distinct order counts)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count() skips nulls
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — aggregate then take the top revenue supplier.

    The classic formulation equi-joins the aggregate against its own
    MAX; with floating-point totals computed by two independent
    subplans that join is brittle (a last-bit difference yields zero
    rows).  Deterministic-and-scale-safe instead: top-1 with a suppkey
    tie-break — plans as TakeOrderedAndProject over the per-supplier
    aggregate (per-partition heap, no global sort).  Totals are
    rounded to 6 decimals *before* ranking so a sub-µ cross-engine
    summation difference between two near-tied suppliers cannot flip
    the winner (the tie-break then decides identically on both
    sides)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        (
            round6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        ).alias("total_revenue")
    )
    top = rev.orderBy(
        F.col("total_revenue").desc(), F.col("l_suppkey").asc()
    ).limit(1)
    return top.join(s, top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape — correlated average as a self-agg join: lines of one
    brand whose quantity is below 20% of that part's average quantity;
    weekly-average revenue over them.  The per-part average table is
    keyed by partkey (partial agg, small output) and joins back to the
    fact co-partitioned on the same key."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    avgq = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avgq, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


def tpch_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape — OR-of-ANDs join predicates: three brand/size/
    quantity bands, revenue over the union.  The equi-key join stays a
    hash join; the disjunction evaluates post-probe in codegen (never
    a nested-loop)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(band)
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


def tpch_q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — join + conditional aggregation: per return flag,
    how many shipped lines belong to high- vs low-priority orders in
    a two-year window.  (The synthetic schema has no l_shipmode; the
    return flag plays the grouping role.)

    Scale: the date filter pushes to the lineitem scan; the fact⋈fact
    join and the 3-group agg are left to Catalyst/AQE; both counts
    come from one pass (conditional sums, partial agg map-side)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape — promo revenue ratio: share of revenue from PROMO
    parts in a six-month window (join + global conditional agg to one
    row).  No broadcast hint on part (scales with SF; AQE decides)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-07-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("promo_revenue_pct")
        )
    )


def tpch_q16_parts_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier variety per part brand/size (touches the part table):
    distinct suppliers offering each (p_brand, p_size) through the
    lineitem fact.

    No broadcast hint on ``part``: unlike nation/region it grows with
    scale factor, so forcing a broadcast would OOM the driver at
    100 TB.  AQE picks broadcast at small SF and sort-merge at large —
    the module policy (only bounded dims get explicit hints)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 full fidelity — the pricing summary report: one scan of
    lineitem with the ship-date cutoff pushed down, eight aggregates
    over (returnflag, linestatus).  q11_hash_agg (relational.py) is
    the three-aggregate flagship variant; this is the complete
    column set including the tax-compounded charge.

    Scale: zero joins; partial aggregation map-side into at most a
    handful of groups — the shuffle moves one row per partition per
    group regardless of input size."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc).alias("sum_disc_price"),
            F.sum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — minimum-cost supplier per part: the correlated-MIN
    subquery joined back on equality with the minimum.  The synthetic
    schema has no partsupp, so the per-(part, supplier) offer cost is
    derived from lineitem history as the minimum observed unit price
    — rounded to cents BEFORE both MINs, because the equality join
    back on a float computed by two independent subplans is exactly
    the cross-engine brittleness tpch_q15's docstring describes.
    Division/floor/min are all order-independent, so the rounded cost
    is bit-identical on both engines.

    Scale: offers aggregate down to |parts|×|suppliers-per-part| before
    any join; the region dim chain broadcasts; the min-cost table is
    one row per part and co-partitions with offers on partkey."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem")
    unit = F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100 + 0.5) / 100
    offer = (
        li.join(eu.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .select("l_partkey", "l_suppkey", unit.alias("unit_cost"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cost").alias("supply_cost"))
    )
    mc = offer.groupBy(F.col("l_partkey").alias("mc_partkey")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    return (
        offer.join(
            mc,
            (offer.l_partkey == mc.mc_partkey)
            & (offer.supply_cost == mc.min_cost),
        )
        .join(p, offer.l_partkey == p.p_partkey)
        .join(eu, offer.l_suppkey == eu.s_suppkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supply_cost")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", F.col("p_partkey").asc()
        )
        .limit(100)
    )


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape — national market share: of the ECONOMY-part revenue
    sold to ASIA-region customers in 1995-1996, what fraction was
    supplied by NATION_2, per order year.  Ratio of two conditional
    sums in one pass; both nation lookups broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = n.select("n_nationkey", "n_regionkey")
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("mkt_share")
        )
    )


def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape — product-type profit by nation and year.  The
    synthetic schema has no partsupp.ps_supplycost; the cost basis is
    p_retailprice × quantity × 0.5 (a fixed margin proxy), which
    preserves the shape: a 5-way join whose profit expression needs
    columns from three tables, aggregated by (supplier nation, order
    year)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.5
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).alias("sum_profit"))
    )


def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — important stock identification: per-part inventory
    value restricted to one nation's suppliers, keeping parts whose
    value exceeds a fraction of the global total (HAVING against a
    scalar subquery).  Value proxy (no partsupp): Σ quantity ×
    retailprice over supplied lines.  Both sides of the threshold
    comparison round to cents first so a last-bit summation
    difference cannot flip membership at the boundary.

    Scale: the per-part aggregate is the only big shuffle; the global
    total is a one-row broadcast cross join, not a driver collect."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    p = load_table(spark, sf_dir, "part")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    cents = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    per_part = (
        li.join(sn, li.l_suppkey == sn.s_suppkey, "left_semi")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(F.sum(F.col("l_quantity") * F.col("p_retailprice")).alias("raw_value"))
    )
    total = per_part.agg(
        cents(F.sum("raw_value") * 0.0001).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(cents(F.col("raw_value")) > F.col("threshold"))
        .select("p_partkey", cents(F.col("raw_value")).alias("part_value"))
    )


def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape — potential part promotion: suppliers in one region
    who dominated the 1996 shipments of a part family (no partsupp →
    availqty is proxied by shipped quantity; a supplier qualifies on
    any bolt-family part where it shipped > 30% of that part's 1996
    total).  Nested aggregate subqueries feeding a semi-join chain.

    Determinism: l_quantity is integer-valued, so the double sums are
    exact and the 0.3× comparison is bit-identical on both engines —
    no rounding needed."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    li_bolt = li.join(p.select("p_partkey"), li.l_partkey == p.p_partkey, "left_semi")
    sp = li_bolt.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    pt = li_bolt.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        F.sum("l_quantity").alias("part_qty")
    )
    qual = (
        sp.join(pt, sp.l_partkey == pt.pt_partkey)
        .filter(F.col("supp_qty") > 0.3 * F.col("part_qty"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    return (
        s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name")
    )


def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — suppliers who kept orders waiting: on finalized
    multi-supplier orders, lines that shipped late (>60 days after
    the order date, the module's lateness proxy — no
    commit/receipt dates) where the late supplier was the ONLY late
    one.  EXISTS → equi-semi-join with a suppkey inequality residual;
    NOT EXISTS → the matching anti-join; both probe hash tables built
    on orderkey, never a cartesian.

    Counts are per late line (the original's granularity)."""
    o_f = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    base = li.join(
        o_f.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).select("l_orderkey", "l_suppkey", "l_linenumber", "o_orderdate", "l_shipdate")
    late = base.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    others = base.select(
        F.col("l_orderkey").alias("a_orderkey"), F.col("l_suppkey").alias("a_suppkey")
    ).distinct()
    late_others = late.select(
        F.col("l_orderkey").alias("b_orderkey"), F.col("l_suppkey").alias("b_suppkey")
    ).distinct()
    l1 = late.join(
        others,
        (late.l_orderkey == others.a_orderkey)
        & (late.l_suppkey != others.a_suppkey),
        "left_semi",
    ).join(
        late_others,
        (late.l_orderkey == late_others.b_orderkey)
        & (late.l_suppkey != late_others.b_suppkey),
        "left_anti",
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "MIDDLE EAST")
    sn = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    return (
        l1.join(sn, l1.l_suppkey == sn.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape — dormant customers with above-average balances:
    no orders since 2000, grouped by nation (the synthetic customer
    has no phone, so nation plays the country-code role; every
    customer has SOME order in this data, so the anti-join is against
    recent orders to keep the query non-vacuous).  Scalar-subquery
    average (rounded to cents on both sides before the comparison),
    anti-join, two aggregates.

    Scale: the average is a one-row broadcast; the anti-join's build
    side is date-pruned at the orders scan and shuffles custkeys
    only."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    avg_bal = cn.filter(F.col("c_acctbal") > 0.0).agg(
        (F.floor(F.avg("c_acctbal") * 100 + 0.5) / 100).alias("avg_bal")
    )
    return (
        cn.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, cn.c_custkey == o.o_custkey, "left_anti")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("c_acctbal").alias("totacctbal"),
        )
    )


QUERIES = {
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "tpch_q2_min_cost_supplier": tpch_q2_min_cost_supplier,
    "tpch_q8_market_share": tpch_q8_market_share,
    "tpch_q9_product_type_profit": tpch_q9_product_type_profit,
    "tpch_q11_important_stock": tpch_q11_important_stock,
    "tpch_q20_excess_suppliers": tpch_q20_excess_suppliers,
    "tpch_q21_waiting_suppliers": tpch_q21_waiting_suppliers,
    "tpch_q22_global_sales_opportunity": tpch_q22_global_sales_opportunity,
    "tpch_q3_shipping_priority": tpch_q3_shipping_priority,
    "tpch_q4_order_priority": tpch_q4_order_priority,
    "tpch_q6_forecast_revenue": tpch_q6_forecast_revenue,
    "tpch_q13_customer_distribution": tpch_q13_customer_distribution,
    "tpch_q15_top_supplier": tpch_q15_top_supplier,
    "tpch_q17_small_quantity_revenue": tpch_q17_small_quantity_revenue,
    "tpch_q19_disjunctive_predicates": tpch_q19_disjunctive_predicates,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q7_volume_shipping": tpch_q7_volume_shipping,
    "tpch_q10_returned_items": tpch_q10_returned_items,
    "tpch_q12_priority_shipping": tpch_q12_priority_shipping,
    "tpch_q14_promo_revenue": tpch_q14_promo_revenue,
    "tpch_q16_parts_promotion": tpch_q16_parts_promotion,
    "tpch_q18_large_volume_customers": tpch_q18_large_volume_customers,
}

_REV = "SUM(l_extendedprice * (1 - l_discount))"

ORACLES = {
    "tpch_q1_pricing_summary": (
        "SELECT l_returnflag, l_linestatus,"
        " SUM(l_quantity) AS sum_qty,"
        " SUM(l_extendedprice) AS sum_base_price,"
        " SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,"
        " SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,"
        " AVG(l_quantity) AS avg_qty,"
        " AVG(l_extendedprice) AS avg_price,"
        " AVG(l_discount) AS avg_disc,"
        " CAST(COUNT(*) AS BIGINT) AS count_order"
        " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'"
        " GROUP BY l_returnflag, l_linestatus"
    ),
    "tpch_q2_min_cost_supplier": (
        "WITH eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name"
        "   FROM supplier JOIN nation ON s_nationkey = n_nationkey"
        "   JOIN region ON n_regionkey = r_regionkey"
        "   WHERE r_name = 'EUROPE'),"
        " offer AS (SELECT l_partkey, l_suppkey,"
        "   MIN(floor(l_extendedprice / l_quantity * 100 + 0.5) / 100)"
        "     AS supply_cost"
        "   FROM lineitem"
        "   WHERE l_suppkey IN (SELECT s_suppkey FROM eu)"
        "   GROUP BY l_partkey, l_suppkey),"
        " mc AS (SELECT l_partkey AS mc_partkey, MIN(supply_cost) AS min_cost"
        "   FROM offer GROUP BY 1)"
        " SELECT s_acctbal, s_name, n_name, p_partkey, supply_cost"
        " FROM offer JOIN mc ON l_partkey = mc_partkey AND supply_cost = min_cost"
        " JOIN part ON l_partkey = p_partkey"
        " JOIN eu ON l_suppkey = s_suppkey"
        " WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20"
        " ORDER BY s_acctbal DESC, n_name, s_name, p_partkey ASC LIMIT 100"
    ),
    "tpch_q8_market_share": (
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,"
        " SUM(CASE WHEN n2.n_name = 'NATION_2'"
        "     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
        "   / SUM(l_extendedprice * (1 - l_discount)) AS mkt_share"
        " FROM customer"
        " JOIN nation n1 ON c_nationkey = n1.n_nationkey"
        " JOIN region ON n1.n_regionkey = r_regionkey"
        " JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " JOIN part ON l_partkey = p_partkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN nation n2 ON s_nationkey = n2.n_nationkey"
        " WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'"
        "   AND o_orderdate >= TIMESTAMP '1995-01-01'"
        "   AND o_orderdate < TIMESTAMP '1997-01-01'"
        " GROUP BY 1"
    ),
    "tpch_q9_product_type_profit": (
        "SELECT n_name AS nation,"
        " CAST(year(o_orderdate) AS BIGINT) AS o_year,"
        " SUM(l_extendedprice * (1 - l_discount)"
        "     - p_retailprice * l_quantity * 0.5) AS sum_profit"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN nation ON s_nationkey = n_nationkey"
        " WHERE p_name LIKE '%red%'"
        " GROUP BY 1, 2"
    ),
    "tpch_q11_important_stock": (
        "WITH per_part AS (SELECT p_partkey,"
        "   SUM(l_quantity * p_retailprice) AS raw_value"
        "   FROM lineitem JOIN part ON l_partkey = p_partkey"
        "   WHERE l_suppkey IN (SELECT s_suppkey FROM supplier"
        "     JOIN nation ON s_nationkey = n_nationkey"
        "     WHERE n_name = 'NATION_3')"
        "   GROUP BY p_partkey)"
        " SELECT p_partkey,"
        "   floor(raw_value * 100 + 0.5) / 100 AS part_value"
        " FROM per_part"
        " WHERE floor(raw_value * 100 + 0.5) / 100 >"
        "   (SELECT floor(SUM(raw_value) * 0.0001 * 100 + 0.5) / 100"
        "    FROM per_part)"
    ),
    "tpch_q20_excess_suppliers": (
        "WITH li_bolt AS (SELECT l_partkey, l_suppkey, l_quantity"
        "   FROM lineitem"
        "   WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
        "     AND l_shipdate < TIMESTAMP '1997-01-01'"
        "     AND l_partkey IN (SELECT p_partkey FROM part"
        "       WHERE p_name LIKE '%bolt%')),"
        " sp AS (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty"
        "   FROM li_bolt GROUP BY 1, 2),"
        " pt AS (SELECT l_partkey AS pt_partkey, SUM(l_quantity) AS part_qty"
        "   FROM li_bolt GROUP BY 1)"
        " SELECT s_suppkey, s_name FROM supplier"
        " JOIN nation ON s_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
        " WHERE r_name = 'AFRICA'"
        "   AND s_suppkey IN (SELECT l_suppkey FROM sp"
        "     JOIN pt ON l_partkey = pt_partkey"
        "     WHERE supp_qty > 0.3 * part_qty)"
    ),
    "tpch_q21_waiting_suppliers": (
        "WITH base AS (SELECT l_orderkey, l_suppkey, l_linenumber,"
        "   o_orderdate, l_shipdate"
        "   FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        "   WHERE o_orderstatus = 'F'),"
        " late AS (SELECT * FROM base"
        "   WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)"
        " SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait"
        " FROM late l1"
        " JOIN supplier ON l1.l_suppkey = s_suppkey"
        " JOIN nation ON s_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
        " WHERE r_name = 'MIDDLE EAST'"
        "   AND EXISTS (SELECT 1 FROM base l2"
        "     WHERE l2.l_orderkey = l1.l_orderkey"
        "       AND l2.l_suppkey <> l1.l_suppkey)"
        "   AND NOT EXISTS (SELECT 1 FROM late l3"
        "     WHERE l3.l_orderkey = l1.l_orderkey"
        "       AND l3.l_suppkey <> l1.l_suppkey)"
        " GROUP BY s_name"
        " ORDER BY numwait DESC, s_name ASC LIMIT 100"
    ),
    "tpch_q22_global_sales_opportunity": (
        "WITH cn AS (SELECT c_custkey, c_acctbal, n_name"
        "   FROM customer JOIN nation ON c_nationkey = n_nationkey"
        "   JOIN region ON n_regionkey = r_regionkey"
        "   WHERE r_name = 'EUROPE'),"
        " ab AS (SELECT floor(AVG(c_acctbal) * 100 + 0.5) / 100 AS avg_bal"
        "   FROM cn WHERE c_acctbal > 0.0)"
        " SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,"
        "   SUM(c_acctbal) AS totacctbal"
        " FROM cn, ab"
        " WHERE c_acctbal > avg_bal"
        "   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey"
        "     AND o_orderdate >= TIMESTAMP '2000-01-01')"
        " GROUP BY n_name"
    ),
    "tpch_q3_shipping_priority": (
        "SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,"
        f" {_REV} AS revenue"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " WHERE c_mktsegment = 'BUILDING'"
        "   AND o_orderdate < TIMESTAMP '1998-01-01'"
        "   AND l_shipdate > TIMESTAMP '1998-01-01'"
        " GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')"
        " ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
    ),
    "tpch_q5_local_supplier_volume": (
        f"SELECT n_name, {_REV} AS revenue"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " GROUP BY n_name"
    ),
    "tpch_q10_returned_items": (
        f"SELECT c_custkey, c_name, n_name, {_REV} AS revenue"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " WHERE l_returnflag = 'R'"
        " GROUP BY c_custkey, c_name, n_name"
        " ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
    ),
    "tpch_q7_volume_shipping": (
        "SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,"
        f" CAST(year(l_shipdate) AS BIGINT) AS ship_year, {_REV} AS revenue"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN nation n1 ON c_nationkey = n1.n_nationkey"
        " JOIN nation n2 ON s_nationkey = n2.n_nationkey"
        " WHERE n1.n_name <> n2.n_name"
        " GROUP BY 1, 2, 3"
    ),
    "tpch_q4_order_priority": (
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count"
        " FROM orders"
        " WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
        "   AND o_orderdate < TIMESTAMP '1996-07-01'"
        "   AND EXISTS (SELECT 1 FROM lineitem"
        "     WHERE l_orderkey = o_orderkey"
        "       AND l_shipdate > o_orderdate + INTERVAL 60 DAY)"
        " GROUP BY o_orderpriority"
    ),
    "tpch_q6_forecast_revenue": (
        "SELECT SUM(l_extendedprice * l_discount) AS revenue"
        " FROM lineitem"
        " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
        "   AND l_shipdate < TIMESTAMP '1997-01-01'"
        "   AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ),
    "tpch_q13_customer_distribution": (
        "WITH pc AS (SELECT c_custkey,"
        "   CAST(COUNT(o_orderkey) AS BIGINT) AS c_count"
        "   FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
        "   GROUP BY c_custkey)"
        " SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist"
        " FROM pc GROUP BY c_count"
    ),
    "tpch_q15_top_supplier": (
        "WITH rev AS (SELECT l_suppkey,"
        "   floor(SUM(l_extendedprice * (1 - l_discount)) * 1e6 + 0.5) / 1e6"
        "     AS total_revenue"
        "   FROM lineitem"
        "   WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
        "     AND l_shipdate < TIMESTAMP '1996-04-01'"
        "   GROUP BY l_suppkey"
        "   ORDER BY total_revenue DESC, l_suppkey ASC LIMIT 1)"
        " SELECT s_suppkey, s_name, total_revenue"
        " FROM rev JOIN supplier ON l_suppkey = s_suppkey"
    ),
    "tpch_q17_small_quantity_revenue": (
        "WITH avgq AS (SELECT l_partkey AS ap_partkey,"
        "   AVG(l_quantity) * 0.2 AS qty_threshold"
        "   FROM lineitem GROUP BY l_partkey)"
        " SELECT SUM(l_extendedprice) / 7.0 AS avg_yearly"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " JOIN avgq ON l_partkey = ap_partkey"
        " WHERE p_brand = 'Brand#12' AND l_quantity < qty_threshold"
    ),
    "tpch_q19_disjunctive_predicates": (
        f"SELECT {_REV} AS revenue"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15"
        "        AND l_quantity BETWEEN 1 AND 11)"
        "    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25"
        "        AND l_quantity BETWEEN 10 AND 20)"
        "    OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35"
        "        AND l_quantity BETWEEN 20 AND 30)"
    ),
    "tpch_q12_priority_shipping": (
        "SELECT l_returnflag,"
        " CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
        "   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,"
        " CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
        "   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
        "   AND l_shipdate < TIMESTAMP '1998-01-01'"
        " GROUP BY l_returnflag"
    ),
    "tpch_q14_promo_revenue": (
        "SELECT 100.0"
        " * SUM(CASE WHEN p_type = 'PROMO'"
        "     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
        " / SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue_pct"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " WHERE l_shipdate >= TIMESTAMP '1997-01-01'"
        "   AND l_shipdate < TIMESTAMP '1997-07-01'"
    ),
    "tpch_q16_parts_promotion": (
        "SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " GROUP BY p_brand, p_size"
    ),
    "tpch_q18_large_volume_customers": (
        "WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS total_qty"
        "   FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)"
        " SELECT c_custkey, c_name, o_orderkey,"
        " strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,"
        " o_totalprice, total_qty"
        " FROM big JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
    ),
}
