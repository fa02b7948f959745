"""Flagship query (SURVEY.md §7 Phase 0): TPC-H-Q1-style pricing summary.

Touches scan → filter → project → hash-aggregate → sort in one plan.
Plan shape at scale: parquet scan with `l_shipdate <= …` pushed to the
reader, partial (map-side) aggregation before a single shuffle on the
tiny (returnflag, linestatus) grouping key, final agg, then a sort of a
handful of rows. No driver collection; survives 100× data by adding
scan tasks only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import dsum, dsum_cents, sql_dsum, sql_dsum_cents
from ..io import load_table
from ..registry import register

_CUTOFF = "1998-09-02"

_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum_cents('l_quantity')} AS sum_qty,
  {sql_dsum_cents('l_extendedprice')} AS sum_base_price,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  ({sql_dsum_cents('l_quantity')} / COUNT(*)) AS avg_qty,
  ({sql_dsum_cents('l_extendedprice')} / COUNT(*)) AS avg_price,
  ({sql_dsum_cents('l_discount')} / COUNT(*)) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "q1_pricing_summary",
    oracle=_ORACLE,
    category="flagship",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: per (returnflag, linestatus) aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.col("count_order")
    # avg_qty/avg_price derive from sums the query already aggregates —
    # dividing post-agg is value-identical to davg (same decimal sum,
    # same one double division) and drops 2 of 7 decimal aggregates.
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_cents("l_quantity").alias("sum_qty"),
            dsum_cents("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            dsum_cents("l_discount").alias("_sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / cnt)
        .withColumn("avg_price", F.col("sum_base_price") / cnt)
        .withColumn("avg_disc", F.col("_sum_disc") / cnt)
        .drop("_sum_disc")
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            "avg_qty",
            "avg_price",
            "avg_disc",
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
