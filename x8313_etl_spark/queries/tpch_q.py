"""Classic analytics suite — the TPC-H query set, adapted to the fixture
star schema (SURVEY.md §1.2; FIXTURES.md).

Why this module exists: SURVEY.md §2's operator inventory covers every
*operator* individually; this suite composes them into the canonical
multi-way-join / aggregate / subquery reporting queries every analytics
engine is judged on. A user of the reference engine runs reports shaped
exactly like these, so the suite is capability evidence, not padding.

Adaptation notes (the fixture schema is TPC-H-ish, not TPC-H):
- no ``partsupp`` table and no ``ps_supplycost`` → Q2/Q20/Q21 cannot be
  expressed; Q9's profit becomes discounted revenue, Q11's stock value
  becomes lineitem revenue (share-of-total shape preserved), Q16's
  supplier evidence comes from lineitem.
- no ``l_commitdate``/``l_receiptdate``/``l_shipmode`` → Q4's and Q12's
  lateness predicates are re-based on ``l_shipdate`` vs ``o_orderdate``.
- no ``c_phone``/comments → Q13's comment filter becomes a priority
  filter; Q22's phone-prefix grouping becomes the customer nation.
Parameter values (segments, brands, nations, dates) are chosen from the
verified fixture domains (FIXTURES.md) so every query returns rows.

Scale design, common to the whole suite: fact-to-fact joins
(lineitem↔orders) shuffle on the join key and benefit from AQE; dim
joins (nation/region, bounded at 25/5 rows at ANY scale factor) are
explicitly broadcast; customer/supplier/part are left to the optimizer
(auto-broadcast under the 64 MB threshold at fixture scale, shuffle
join beyond — exactly the cluster behavior we want, so no hint).
Monetary aggregates use the deterministic decimal policy
(functions/numeric.py) so the DuckDB twin hash-matches bit-for-bit.
Top-k outputs always ORDER BY with a unique-key tiebreak on BOTH sides
so LIMIT selects an identical row set in either engine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import dsum, dsum_cents, sql_dsum, sql_dsum_cents
from ..io import load_table
from ..registry import register

_REV = "l_extendedprice * (1 - l_discount)"


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(lit: str) -> F.Column:
    return F.lit(lit).cast("timestamp_ntz")


@register(
    "h3_shipping_priority",
    category="analytics",
    oracle=f"""
SELECT l_orderkey,
       {sql_dsum(_REV)} AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def h3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top unshipped orders by revenue for one market segment.

    Plan: the segment filter prunes customer BEFORE the join (predicate
    pushed to its scan), orders⋈customer auto-broadcasts the filtered
    customer side, lineitem⋈orders shuffles on orderkey — the one
    unavoidable fact shuffle — then partial-aggregated rollup and a
    global top-10 (TakeOrderedAndProject, no full sort at scale)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1996-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1996-03-15")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_rev()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "h4_order_priority",
    category="analytics",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def h4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted): order-priority mix of one quarter's orders
    that shipped at least one line after the order date (the fixture
    has no commit/receipt dates; ship-after-order is the analogous
    EXISTS predicate).

    Plan: quarter filter pushed to the orders scan, EXISTS becomes a
    LEFT SEMI join on orderkey with the ship>order condition evaluated
    join-side (no pre-aggregation of lineitem needed, semi join stops
    at first match), then a tiny 5-group aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "h5_local_supplier_volume",
    category="analytics",
    oracle=f"""
SELECT n_name, {sql_dsum(_REV)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def h5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share the
    nation, one region, one year. The canonical 6-way star join.

    Plan: region filter broadcast-pruned into nation, nation broadcast
    into supplier (both dims bounded at any SF), the lineitem⋈orders
    shuffle is the only fact shuffle; the c_nationkey = s_nationkey
    same-nation predicate is applied as a post-join filter so the
    optimizer keeps equi-join keys clean for AQE."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(_rev()).alias("revenue"))
    )


@register(
    "h6_forecast_revenue",
    category="analytics",
    oracle=f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def h6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue increase from hypothetically dropping small
    discounts — a pure scan-filter-global-agg query.

    Plan: every predicate (date range, discount band, quantity cap)
    reaches the parquet reader as a pushed filter; only 4 columns are
    read; one partial agg per scan task and a single-row final merge.
    The 100 TB shape is scan-bound, which is the point."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@register(
    "h7_volume_shipping",
    category="analytics",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       {sql_dsum(_REV)} AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, EXTRACT(year FROM l_shipdate)
""",
)
def h7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year, counting both directions.

    Plan: the two nation dims broadcast with their name filters applied
    pre-join (each reduces to ≤2 rows), which lets the optimizer turn
    supplier⋈nation and customer⋈nation into broadcast semi-reductions
    before the single fact shuffle."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(_rev()).alias("revenue"))
    )


@register(
    "h8_market_share",
    category="analytics",
    oracle=f"""
WITH all_nations AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       ({sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
        / {sql_dsum('volume')}) AS mkt_share
FROM all_nations
GROUP BY o_year
""",
)
def h8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of PROMO-part revenue sold into one
    region, by order year — the conditional-aggregate-over-star query.

    Plan: part filter (p_type) prunes the part dim before its join;
    region+customer-nation broadcast; the share is two decimal sums in
    ONE aggregate pass (no self-join), divided once at the end."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _rev()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / dsum(vol)
            ).alias("mkt_share")
        )
    )


@register(
    "h9_product_type_profit",
    category="analytics",
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       {sql_dsum(_REV)} AS sum_profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
""",
)
def h9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted): discounted revenue on 'red' parts by supplier
    nation and order year. The fixture has no partsupp/ps_supplycost, so
    profit = discounted revenue (the join/agg shape is Q9's; only the
    subtraction term is gone).

    Plan: the LIKE filter prunes part before the fact join; nation
    broadcasts; lineitem⋈orders is the one fact shuffle."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dsum(_rev()).alias("sum_profit"))
    )


@register(
    "h10_returned_items",
    category="analytics",
    oracle=f"""
SELECT c_custkey, c_name,
       {sql_dsum(_REV)} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def h10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top 20 customers by revenue lost to returns in one
    quarter.

    Plan: returnflag filter pushed to the lineitem scan (dictionary
    filter on a 3-value column — near-free), quarter filter to orders;
    top-20 is TakeOrderedAndProject with the custkey tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "h12_late_shipment_priority",
    category="analytics",
    oracle="""
SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY EXTRACT(year FROM l_shipdate)
""",
)
def h12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted): late-shipment line counts split by order
    priority, per ship year. The fixture has no ship mode or
    commit/receipt dates, so "late" is ship > order date + 90 days and
    the grouping is the ship year.

    Plan: one fact shuffle (orders⋈lineitem on orderkey); the lateness
    predicate is a join-side filter; both conditional counts come from
    one aggregate pass (long adds — no decimal needed for counts)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "h13_customer_distribution",
    category="analytics",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def h13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of order counts per customer, INCLUDING
    zero-order customers (the left join is the point), with a
    predicate on the joined side (priority filter stands in for the
    fixture-less comment filter).

    Plan: the priority filter applies below the join (null-extending
    left join keeps every customer), first agg shuffles on custkey,
    second on the tiny c_count domain. COUNT(col) vs COUNT(*) nullness
    semantics are exercised deliberately."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "h14_promo_effect",
    category="analytics",
    oracle=f"""
SELECT (100.0 * {sql_dsum(f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0 END")}
        / {sql_dsum(_REV)}) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
""",
)
def h14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of one month's revenue from PROMO parts.

    Plan: month filter pushed to the lineitem scan, part auto-broadcast,
    both sums in one aggregate pass, one double multiply+divide at the
    end (same literal expression order as the twin)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    p = load_table(spark, sf_dir, "part")
    vol = _rev()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / dsum(vol)
            ).alias("promo_revenue")
        )
    )


@register(
    "h15_top_supplier",
    category="analytics",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum(_REV)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def h15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — the
    scalar-subquery-against-a-view query.

    Plan: revenue aggregates once (shuffle on suppkey); the MAX is an
    unpartitioned window over the ALREADY-AGGREGATED table (one row per
    supplier — bounded by dim cardinality at any scale, so the single
    partition is safe and avoids recomputing the CTE twice, which the
    naive scalar-subquery plan would); equality on the exact decimal
    sum is cross-engine deterministic so ties keep every max supplier
    in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_rev()).alias("total_revenue")
    )
    rev = rev.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    )
    return (
        rev.filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "h17_small_quantity_revenue",
    category="analytics",
    oracle=f"""
SELECT ({sql_dsum_cents('l_extendedprice')} / 7.0) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
  SELECT l_partkey AS agg_partkey,
         (({sql_dsum_cents('l_quantity')}) / COUNT(*)) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) ON agg_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < 0.2 * avg_qty
""",
)
def h17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders
    (below 20% of the part's average order quantity) were not filled,
    for one brand. The correlated-aggregate-subquery query.

    Plan: the per-part average is a separate aggregate of lineitem
    joined back on partkey (Spark's decorrelation of the subquery);
    both sides shuffle on partkey — co-partitioned, so AQE merges them
    without an extra exchange; the brand filter prunes part first. The
    0.2*avg comparison is one double multiply of an exact decimal-sum
    average — deterministic in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    avg_q = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        (dsum_cents("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_q, F.col("l_partkey") == F.col("agg_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum_cents("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@register(
    "h18_large_volume_customer",
    category="analytics",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {sql_dsum_cents('l_quantity')} AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING {sql_dsum_cents('l_quantity')} > 250
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def h18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the ~1% of orders above 250 total quantity, with their
    customers, largest first. The HAVING-subquery-into-semi-join query.

    Plan: the qualifying-orderkey set aggregates lineitem once (shuffle
    on orderkey) and semi-joins back — Spark plans the IN as a left
    semi; the second lineitem aggregate reuses the same orderkey
    partitioning; top-100 is TakeOrderedAndProject with the orderkey
    tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum_cents("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "big_key"),
               F.col("o_orderkey") == F.col("big_key"), "left_semi")
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum_cents("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "h19_discounted_revenue",
    category="analytics",
    oracle=f"""
SELECT {sql_dsum(_REV)} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def h19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from three disjunctive brand/size/quantity
    bands — the OR-of-conjunctions predicate that stresses filter
    planning (no container/shipmode columns in the fixture; size and
    quantity bands carry the shape).

    Plan: Catalyst extracts the common p_brand IN (...) and p_size/
    l_quantity envelopes as join-independent pushdowns, then applies
    the full disjunction post-join; part auto-broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(_rev()).alias("revenue"))
    )


@register(
    "h22_sales_opportunity",
    category="analytics",
    oracle="""
WITH avg_bal AS (
  SELECT (CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)) AS v
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       (CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.v
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  )
GROUP BY c_nationkey
""",
)
def h22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted): wealthy customers with no recent orders, by
    nation (the fixture has no phone column, so the country-code prefix
    becomes c_nationkey; "no orders" becomes "no orders since 1999").

    Plan: the positive-balance average is a single-row aggregate
    cross-joined in (broadcast of one row — the scalar-subquery idiom
    used repo-wide); the NOT EXISTS is a LEFT ANTI join against the
    date-filtered orders; final agg on the 25-key nation domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("1999-01-01")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (dsum("c_acctbal") / F.count(F.lit(1))).alias("v")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "h11_important_stock",
    category="analytics",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey, {sql_dsum(_REV)} AS val
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT {sql_dsum(_REV)} AS t,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS np
        FROM lineitem)
SELECT l_partkey, val
FROM pv, tot
WHERE val > 1.5 * t / np
""",
)
def h11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted): parts whose retained discounted revenue
    exceeds 1.5x the mean per-part share of the corpus total (the ~p99 of the fixture's near-uniform distribution) — the
    share-of-total HAVING query (no partsupp in the fixture, so value =
    lineitem revenue; the classic SF-scaled constant fraction becomes a
    self-scaling 1.5×-mean threshold so the query is non-degenerate at
    every scale factor).

    Plan: per-part aggregate (one shuffle on partkey) + a single-row
    global aggregate broadcast-cross-joined in; BOTH sums are the same
    exact decimal aggregate, so share thresholding is deterministic —
    summing the per-part doubles again would reintroduce float
    order-dependence, which is why the total re-aggregates from the
    scan instead (associativity of the decimal sum makes them equal);
    the threshold 1.5*t/np is the identical expression tree in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(dsum(_rev()).alias("val"))
    tot = li.agg(
        dsum(_rev()).alias("t"),
        F.countDistinct("l_partkey").alias("np"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val") > 1.5 * F.col("t") / F.col("np"))
        .select("l_partkey", "val")
    )


@register(
    "h16_supplier_part_count",
    category="analytics",
    oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
""",
)
def h16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted): how many distinct suppliers ship each
    (brand, type, size) part group, excluding one brand and one type
    (no partsupp → supplier evidence comes from lineitem; no complaint
    comments → that exclusion is dropped).

    Plan: all three part predicates prune the part dim BEFORE its join
    (<> and IN both push to the scan); count distinct expands to the
    standard two-phase aggregate — first (group, suppkey) dedup, then
    count — both shuffles on bounded-cardinality keys."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "h2_min_cost_supplier",
    category="analytics",
    oracle="""
SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
FROM (
  SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, s.s_acctbal,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY s.s_acctbal, s.s_suppkey) AS rn
  FROM part p
  JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    ON ps.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE p.p_size <= 5 AND r.r_name = 'EUROPE'
)
WHERE rn = 1
""",
)
def h2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted): for every small part (p_size ≤ 5), the
    cheapest EUROPE supplier that has actually shipped it — the
    correlated-MIN-subquery-with-join-back query. No partsupp in the
    fixture, so the supply relation is the DISTINCT (part, supplier)
    pairs observed in lineitem and 'cost' is s_acctbal (the h11
    adaptation discipline); the classic correlated `= (SELECT min …)`
    becomes a per-part WindowGroupLimit argmin with a pinned tiebreak
    (acctbal, suppkey) — the decorrelated plan Catalyst would aim for,
    written directly.

    Plan: the distinct pair projection shuffles once on (part, supp);
    supplier/nation/region dims broadcast; the argmin window runs on
    the part-partitioned join output. At 100 TB the only big exchange
    is the distinct over the pair projection of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    w = Window.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        ps.join(F.broadcast(p.select("p_partkey", "p_brand")),
                ps.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(eu_supp), ps.l_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "h20_excess_inventory",
    category="analytics",
    oracle="""
WITH pairs AS (
  SELECT l.l_suppkey, l.l_partkey,
         SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
                  THEN l.l_quantity ELSE 0 END) AS qty_recent,
         SUM(l.l_quantity) AS qty_tot
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_type = 'PROMO'
  GROUP BY l.l_suppkey, l.l_partkey
),
sel AS (
  SELECT l_suppkey, COUNT(*) AS n_parts
  FROM pairs WHERE qty_recent > 0.5 * qty_tot
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(sel.n_parts AS BIGINT) AS n_parts
FROM sel JOIN supplier s ON s.s_suppkey = sel.l_suppkey
""",
)
def h20_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted): suppliers whose recent (1999+) shipped
    quantity of PROMO parts dominates (>50% of) their all-time quantity
    for that part, with how many such parts each has — the
    nested-aggregation semi-join shape of Q20 (supplier kept iff an
    inner per-(supp, part) aggregate passes a fraction-of-aggregate
    test). No partsupp availqty in the fixture, so 'excess availability'
    becomes recency concentration over the same double aggregate
    structure. Quantities are integral doubles, so the sums are exact
    in ANY order (no decimal needed) and 0.5·tot is exact.

    Plan: part filter broadcast-prunes the fact scan BEFORE the
    (supp, part) aggregate — the only big shuffle; the passing pairs
    collapse to a supplier-sized count joined to the broadcast dim."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    recent = F.when(
        F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("l_quantity"),
    ).otherwise(F.lit(0.0))
    pairs = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(recent).alias("qty_recent"),
            F.sum("l_quantity").alias("qty_tot"),
        )
    )
    sel = (
        pairs.filter(F.col("qty_recent") > 0.5 * F.col("qty_tot"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    return sel.join(
        F.broadcast(s.select("s_suppkey", "s_name")),
        sel.l_suppkey == F.col("s_suppkey"),
    ).select("s_suppkey", "s_name", F.col("n_parts").cast("bigint").alias("n_parts"))


_H21_LATE_DAYS = 90


@register(
    "h21_waiting_supplier",
    category="analytics",
    oracle=f"""
WITH late AS MATERIALIZED (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL {_H21_LATE_DAYS} DAY
)
SELECT s.s_suppkey, s.s_name, CAST(cnt.numwait AS BIGINT) AS numwait
FROM (
  SELECT l1.l_suppkey, COUNT(*) AS numwait FROM (
    SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
    FROM late l1
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
  ) l1 GROUP BY l1.l_suppkey
) cnt JOIN supplier s ON s.s_suppkey = cnt.l_suppkey
""",
)
def h21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted): per supplier, the number of multi-supplier
    orders where it was the ONLY late shipper — the double-correlated
    EXISTS / NOT-EXISTS query, the hardest subquery shape in the suite.
    'Late' adapts to ship > order date + 90 days (the fixture has no
    commit/receipt dates). Decorrelated Spark-first instead of
    translating the subqueries: ONE aggregate over the order-keyed
    lineitem computes, per order, the distinct-supplier count and the
    late-supplier set size, then a semi-structured join keeps late
    (supp, order) events with total_supps > 1 AND late_supps = 1 —
    the EXISTS pair becomes two columns of the same group-by, so the
    whole query is two shuffles on l_orderkey instead of three
    correlated probes of the fact table. Counts are exact BIGINTs."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    lo = li.join(
        F.broadcast(o.select("o_orderkey", "o_orderdate")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_H21_LATE_DAYS} DAYS")
        ).alias("is_late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supps"
        ),
    )
    late_events = (
        lo.filter(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter(
                (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
    )
    cnt = late_events.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("numwait")
    )
    return cnt.join(
        F.broadcast(s.select("s_suppkey", "s_name")),
        cnt.l_suppkey == F.col("s_suppkey"),
    ).select("s_suppkey", "s_name", "numwait")
