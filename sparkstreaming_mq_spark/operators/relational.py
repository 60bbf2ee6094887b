"""Projection / filter / conditional / distinct operators (SURVEY.md §2.2)
plus the flagship pricing-summary query (SURVEY.md §7 M0).

Capability parity target: the reference archetype's parse/ETL stage —
project payload fields, filter malformed or out-of-scope records
(SURVEY.md §0.3 step 2; reference snapshot itself is empty,
/root/reference/.gitignore:1-2). Everything here is a narrow
select/filter over a parquet scan, so Catalyst pushes the predicates and
the projection into the scan (verified via .explain: PushedFilters +
ReadSchema) — at 100 TB these queries read only the referenced columns
and skip non-matching row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table

# --- M0 flagship: TPC-H-Q1-style pricing summary -------------------------
# scan → pushed filter → partial+final hash aggregate → order.
# At scale: the groupBy key space is tiny (6 combinations) so the
# map-side partial aggregation collapses ~all rows before the shuffle.

Q01_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  round(sum(l_extendedprice), 2)                                   AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
  round(avg(l_quantity), 4)                                        AS avg_qty,
  round(avg(l_extendedprice), 4)                                   AS avg_price,
  round(avg(l_discount), 4)                                        AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", oracle=Q01_ORACLE)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report over lineitem (flagship; S3+P1+P2+A1+O1)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- P1+P2+P3 combined (driver-slot query): one ETL-shaped pass -------------

@query(
    "p1_project_filter_case",
    oracle="""
SELECT
  o_orderkey                                   AS order_key,
  CAST(o_custkey AS INTEGER)                   AS cust_key_i32,
  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)), 2)
       AS DOUBLE)                              AS gross_price,
  upper(o_orderstatus)                         AS status_uc,
  CASE
    WHEN o_totalprice < 80000 THEN 'low'
    WHEN o_totalprice < 150000 THEN 'mid'
    ELSE 'high'
  END                                          AS price_band,
  coalesce(nullif(o_orderpriority, '1-URGENT'), 'OTHER') AS prio_masked,
  round(greatest(o_totalprice, 100000.0), 2)   AS price_floor,
  round(least(o_totalprice, 100000.0), 2)      AS price_cap
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 50000 AND 200000
  AND o_orderpriority LIKE '%URGENT%'
  AND o_orderdate IS NOT NULL
  AND NOT (o_custkey % 10 = 3)
""",
)
def p1_project_filter_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection (select/compute/rename/cast) + P2 filter
    (isin/between/like/null/negation, all parquet-pushable) + P3
    conditionals (CASE/coalesce/nullif/greatest/least) in one
    ETL-shaped pass over orders — the driver-slot representative for
    the whole projection/filter/conditional family.
    ``gross_price`` goes through exact decimal arithmetic on both
    engines (double *1.1 lands on .005 round boundaries)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(50000, 200000)
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_orderdate").isNotNull()
        & ~(F.col("o_custkey") % 10 == 3)
    ).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").cast("int").alias("cust_key_i32"),
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)") * F.lit("1.1").cast("decimal(3,1)"), 2
        )
        .cast("double")
        .alias("gross_price"),
        F.upper("o_orderstatus").alias("status_uc"),
        F.when(F.col("o_totalprice") < 80000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("price_band"),
        F.coalesce(F.nullif("o_orderpriority", F.lit("1-URGENT")), F.lit("OTHER")).alias(
            "prio_masked"
        ),
        F.round(F.greatest("o_totalprice", F.lit(100000.0)), 2).alias("price_floor"),
        F.round(F.least("o_totalprice", F.lit(100000.0)), 2).alias("price_cap"),
    )


# --- P4: distinct / dropDuplicates -----------------------------------------

@query(
    "p4_distinct",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus, l_shipmode
FROM (SELECT l_returnflag, l_linestatus,
             CASE WHEN l_linenumber % 2 = 0 THEN 'EVEN' ELSE 'ODD' END AS l_shipmode
      FROM lineitem)
""",
)
def p4_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-row elimination (hash aggregate over all columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_returnflag",
        "l_linestatus",
        F.when(F.col("l_linenumber") % 2 == 0, "EVEN").otherwise("ODD").alias("l_shipmode"),
    ).distinct()
