"""Classic TPC-H-shape analytic queries over the star schema (bonus
surface, SURVEY.md §2.11).

The flagship q01 (operators/relational.py) covers the single-table
aggregate shape; these add the canonical multi-join report shapes a
warehouse user of the reference archetype would run next: Q3's
segment-filtered star join + top-k and Q5's six-table local-supplier
join. Both are pure declarative plans — Catalyst broadcast-joins every
dimension side (BROADCASTABLE set), pushes the date/segment filters
into the parquet scans, and the top-k lowers to TakeOrderedAndProject,
so at 100 TB each query is one shuffle per fact-fact join and nothing
else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table

# Mid-range cutoff for the fixture's 1995-01..2001-08 o_orderdate span
# (FIXTURES.md) — both sides of the Q3 date split stay selective.
Q03_CUTOFF = "1998-03-15 00:00:00"

# Revenue in exact fixed point (the f10/l3c hazard class, pre-empted):
# price quantized to cents, discount to basis points — both
# floor(x*scale + 0.5), identical IEEE ops on both engines — summed as
# exact integers (DuckDB widens to HUGEINT, still exact), rounded
# half-up to whole cents with INTEGER division, and only then divided
# by 100.0 (one deterministic IEEE division; no float accumulation, no
# round() on an engine-dependent double anywhere).
REV_SQL = (
    "CAST((sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))"
    " + 5000) // 10000 AS BIGINT) / 100.0"
)


def _revenue_units():
    """Per-line revenue in exact cent·basis-point BIGINT units."""
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    bp = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    return cents * (F.lit(10000) - bp)


def _revenue_final():
    """Integer half-up to whole cents (`div` keeps it in BIGINT — a
    float quotient would lose exactness past 2^53), then one
    deterministic double division. Apply after
    ``.agg(F.sum(_revenue_units()).alias("_rev_units"))``. (A function,
    not a module constant: building a Column requires an active
    SparkContext, which doesn't exist at import time.)"""
    return F.expr("(_rev_units + 5000L) div 10000L") / F.lit(100.0)


Q03_ORACLE = f"""
SELECT
  l.l_orderkey                                              AS order_key,
  {REV_SQL}                                                 AS revenue,
  o.o_orderdate                                             AS order_date,
  o.o_orderpriority                                         AS order_priority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '{Q03_CUTOFF}'
  AND l.l_shipdate  > TIMESTAMP '{Q03_CUTOFF}'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, order_date, order_key
LIMIT 10
"""


@query("q03_shipping_priority", oracle=Q03_ORACLE)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: unshipped-revenue top-10 for one market segment.

    Plan shape (the one you'd want at 100 TB): the segment filter
    reduces customer to ~1/5 and broadcasts; orders⋈customer is a
    BroadcastHashJoin with the date filter pushed to the orders scan;
    the only real shuffle is lineitem⋈orders on the order key; the
    ORDER BY+LIMIT lowers to TakeOrderedAndProject (no global sort).
    Ties in the rounded revenue are broken by (order_date, order_key)
    on both sides so the LIMIT selects a deterministic set.
    """
    cutoff = F.lit(Q03_CUTOFF).cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(F.sum(_revenue_units()).alias("_rev_units"))
        .withColumn("revenue", _revenue_final())
        .drop("_rev_units")
        .orderBy(F.desc("revenue"), "order_date", "order_key")
        .limit(10)
    )


Q05_ORACLE = f"""
SELECT
  n.n_name                                                  AS nation_name,
  {REV_SQL}                                                 AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey
  AND r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


@query("q05_local_supplier", oracle=Q05_ORACLE)
def q05_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5 shape: revenue by nation where the customer and the
    supplier share a nation, one region, one order year.

    Six-table join in which every dimension side (customer, supplier,
    nation, region) is explicitly broadcast — the only shuffle in the
    whole plan is lineitem⋈orders on the order key, and the final
    25-group aggregate collapses map-side. The local-supplier predicate
    (c_nationkey = s_nationkey) is a post-broadcast-join filter, not an
    extra join. This is the canonical star-join plan that survives a
    100× fact-table scale-up unchanged.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(_revenue_units()).alias("_rev_units"))
        .withColumn("revenue", _revenue_final())
        .drop("_rev_units")
    )


# --- Q4 shape: order-priority checking (EXISTS semi-join) ---------------------

Q04_CUTOFF_LO = "1997-01-01 00:00:00"
Q04_CUTOFF_HI = "1997-04-01 00:00:00"
Q04_SHIP_AFTER = "1997-03-01 00:00:00"

Q04_ORACLE = f"""
SELECT o.o_orderpriority AS order_priority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{Q04_CUTOFF_LO}'
  AND o.o_orderdate <  TIMESTAMP '{Q04_CUTOFF_HI}'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > TIMESTAMP '{Q04_SHIP_AFTER}'
  )
GROUP BY o.o_orderpriority
"""


@query("q04_order_priority", oracle=Q04_ORACLE)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape: per-priority counts of one quarter's orders
    having at least one late-shipped line — the canonical EXISTS
    decorrelation. (The fixture lacks l_commitdate/l_receiptdate, so
    the EXISTS predicate is late shipment rather than late receipt;
    the plan shape — date-pruned orders LEFT SEMI JOIN a filtered
    lineitem, then a tiny aggregate — is exactly Q4's.)

    Scale: both date filters push to the parquet scans; the semi join
    is the only shuffle (AQE may broadcast the pruned order side);
    output is 5 rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q04_CUTOFF_LO)
        & (F.col("o_orderdate") < Q04_CUTOFF_HI)
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > Q04_SHIP_AFTER
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count("*").cast("long").alias("order_count"))
    )


# --- Q6 shape: forecasting revenue change (pure filter + global agg) ----------

Q06_YEAR_LO = "1997-01-01 00:00:00"
Q06_YEAR_HI = "1998-01-01 00:00:00"

Q06_ORACLE = f"""
SELECT
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) + 5000) // 10000
       AS BIGINT) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q06_YEAR_LO}'
  AND l_shipdate <  TIMESTAMP '{Q06_YEAR_HI}'
  AND l_discount BETWEEN 0.02 AND 0.08
  AND l_quantity < 24
"""


@query("q06_forecast_revenue", oracle=Q06_ORACLE)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 shape: the would-have-been revenue of discounted small
    orders in one year — a pure scan-filter-aggregate with NO join and
    NO group key; the plan is one pushed-filter scan collapsing to a
    single row (partial + final agg), the cheapest possible shape at
    any scale. Revenue = Σ price·discount in exact cent·basis-point
    integers, half-up to cents, one final double division (the module's
    standard money recipe)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q06_YEAR_LO)
        & (F.col("l_shipdate") < Q06_YEAR_HI)
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    bp = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    return (
        li.agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(cents * bp).alias("_ru"),
        )
        .select(
            "n_lines",
            (F.expr("(_ru + 5000L) div 10000L") / F.lit(100.0)).alias("revenue"),
        )
    )


# --- Q10 shape: returned-item reporting (4-table join + top-k) ----------------

Q10_QTR_LO = "1997-07-01 00:00:00"
Q10_QTR_HI = "1997-10-01 00:00:00"

Q10_ORACLE = f"""
SELECT
  c.c_custkey                                               AS cust_key,
  c.c_name                                                  AS cust_name,
  {REV_SQL}                                                 AS revenue,
  CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)            AS acctbal_cents,
  n.n_name                                                  AS nation
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '{Q10_QTR_LO}'
  AND o.o_orderdate <  TIMESTAMP '{Q10_QTR_HI}'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, cust_key
LIMIT 20
"""


@query("q10_returned_items", oracle=Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10 shape: the 20 customers who returned the most revenue
    in one quarter, with their nation — the canonical "who is hurting
    us" report: fact⋈fact (orders⋈lineitem) with both filters pushed,
    two broadcast dims (customer, nation), exact fixed-point revenue,
    and the top-20 lowered to TakeOrderedAndProject. One fact-fact
    shuffle is the whole network cost at any scale."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q10_QTR_LO)
        & (F.col("o_orderdate") < Q10_QTR_HI)
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        l.alias("l")
        .join(o.alias("o"), F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .join(F.broadcast(c).alias("c"), F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(F.broadcast(n).alias("n"), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
    )
    agg = (
        joined.groupBy(
            F.col("c.c_custkey").alias("cust_key"),
            F.col("c.c_name").alias("cust_name"),
            F.floor(F.col("c.c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("acctbal_cents"),
            F.col("n.n_name").alias("nation"),
        )
        .agg(F.sum(_revenue_units()).alias("_rev_units"))
        .select(
            "cust_key",
            "cust_name",
            _revenue_final().alias("revenue"),
            "acctbal_cents",
            "nation",
        )
    )
    return agg.orderBy(F.col("revenue").desc(), "cust_key").limit(20)


# --- Q14 shape: promotion-effect revenue share --------------------------------

Q14_MONTH_LO = "1997-09-01 00:00:00"
Q14_MONTH_HI = "1997-10-01 00:00:00"

Q14_ORACLE = f"""
SELECT
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN u ELSE 0 END) AS BIGINT)
    AS promo_units,
  CAST(sum(u) AS BIGINT) AS total_units,
  100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN u ELSE 0 END) AS DOUBLE)
        / CAST(sum(u) AS DOUBLE) AS promo_pct
FROM (
  SELECT l_partkey,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           * (10000 - CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q14_MONTH_LO}'
    AND l_shipdate <  TIMESTAMP '{Q14_MONTH_HI}'
) l JOIN part p ON l.l_partkey = p.p_partkey
"""


@query("q14_promo_effect", oracle=Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 shape: the share of one month's discounted revenue on
    promotional parts. Revenue stays in exact cent·basis-point BIGINT
    units through BOTH conditional sums, so the single closing
    percentage is one deterministic double division of two exact
    integers — no float accumulation anywhere. Plan: pushed month
    filter, part dim broadcast, single-row two-phase aggregate."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q14_MONTH_LO)
        & (F.col("l_shipdate") < Q14_MONTH_HI)
    )
    p = load_table(spark, sf_dir, "part")
    u = _revenue_units()
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    promo = F.when(F.col("p_type") == "PROMO", u).otherwise(F.lit(0))
    return (
        joined.agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(promo).cast("long").alias("promo_units"),
            F.sum(u).cast("long").alias("total_units"),
        )
        .select(
            "n_lines",
            "promo_units",
            "total_units",
            (
                F.lit(100.0)
                * F.col("promo_units").cast("double")
                / F.col("total_units").cast("double")
            ).alias("promo_pct"),
        )
    )


# --- Q19 shape: disjunctive brand/size discounted revenue ---------------------

Q19_ORACLE = """
SELECT
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST((sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))) + 5000)
       // 10000 AS BIGINT) / 100.0 AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
         AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 30
         AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 45
         AND l.l_quantity BETWEEN 20 AND 40)
"""


@query("q19_brand_revenue", oracle=Q19_ORACLE)
def q19_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 shape: discounted revenue under three disjunctive
    (brand, size-range, quantity-range) arms — the classic test that a
    join condition mixing equi keys with OR-of-conjunctions still
    planes as an equi hash join on partkey with the disjunction as a
    post-join filter (NOT a nested loop). Part broadcasts; exact money
    recipe; single-row output."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    arms = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 45) & q.between(20, 40))
    )
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).filter(arms)
    return (
        joined.agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(_revenue_units()).alias("_rev_units"),
        )
        .select("n_lines", _revenue_final().alias("revenue"))
    )


# --- Q15 shape: top supplier (argmax without a self-join) ---------------------

Q15_QTR_LO = "1997-04-01 00:00:00"
Q15_QTR_HI = "1997-07-01 00:00:00"

Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey AS supp_key,
         CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (10000 - CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)))
               + 5000) // 10000 AS BIGINT) AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_QTR_LO}'
    AND l_shipdate <  TIMESTAMP '{Q15_QTR_HI}'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS supp_key, s.s_name AS supp_name,
       r.rev_cents AS rev_cents
FROM rev r JOIN supplier s ON s.s_suppkey = r.supp_key
WHERE r.rev_cents = (SELECT max(rev_cents) FROM rev)
"""


@query("q15_top_supplier", oracle=Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 shape: the supplier(s) with maximum quarterly revenue.
    The oracle's correlated max-subquery is computed engine-side as an
    empty-frame window max over the per-supplier aggregate — one extra
    SinglePartition pass over a SUPPLIER-cardinality frame (never the
    fact table), instead of re-scanning or self-joining the revenue
    CTE. Revenue is half-up exact cents (BIGINT), so the max-equality
    is an integer comparison — no float ties."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q15_QTR_LO)
        & (F.col("l_shipdate") < Q15_QTR_HI)
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supp_key"))
        .agg(F.sum(_revenue_units()).alias("_rev_units"))
        .select(
            "supp_key",
            F.expr("(_rev_units + 5000L) div 10000L").alias("rev_cents"),
        )
    )
    top = rev.withColumn(
        "_max", F.max("rev_cents").over(Window.partitionBy())
    ).filter(F.col("rev_cents") == F.col("_max"))
    s = load_table(spark, sf_dir, "supplier")
    return top.join(F.broadcast(s), top.supp_key == s.s_suppkey).select(
        "supp_key", F.col("s_name").alias("supp_name"), "rev_cents"
    )


# --- Q18 shape: large-volume customers ----------------------------------------

Q18_MIN_QTY = 150

Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) > {Q18_MIN_QTY}
)
SELECT c.c_custkey AS cust_key, c.c_name AS cust_name,
       o.o_orderkey AS order_key, o.o_orderdate AS order_date,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
       b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY total_cents DESC, order_key
LIMIT 100
"""


@query("q18_large_orders", oracle=Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: the 100 biggest orders whose total line
    quantity exceeds a threshold, with their customers. The HAVING
    subquery becomes a pre-aggregated order-cardinality frame that
    DRIVES the join (orders join the survivors, not vice versa);
    customer broadcasts; top-100 lowers to TakeOrderedAndProject.
    Quantities are integral in the fixture — half-up cast makes that
    exact on both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > Q18_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("total_cents"),
            "total_qty",
        )
    )
    return joined.orderBy(F.col("total_cents").desc(), "order_key").limit(100)


# --- Q13 shape: customer order-count distribution -----------------------------

Q13_ORACLE = """
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


@query("q13_order_distribution", oracle=Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: the distribution of per-customer order counts,
    INCLUDING zero-order customers — the left-outer-join-then-
    double-aggregate idiom (count(o_orderkey) counts matches, not
    rows, so the never-ordered customer lands in bucket 0). First
    aggregate is customer-keyed (the join's own partitioning — no
    extra exchange); the second collapses to tens of rows."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


# --- Q17 shape: small-quantity-order revenue (correlated avg subquery) --------

Q17_BRAND = "Brand#3"

Q17_ORACLE = f"""
WITH stats AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN stats s ON s.l_partkey = l.l_partkey
WHERE p.p_brand = '{Q17_BRAND}'
  AND CAST(floor(l.l_quantity + 0.5) AS BIGINT) * 5 * s.cnt < s.sum_qty
"""


@query("q17_small_quantity", oracle=Q17_ORACLE)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 shape: revenue locked in orders below 20% of a part's
    average quantity. The correlated AVG subquery decorrelates into a
    per-part (count, sum) aggregate joined back to the fact — and the
    fractional threshold q < 0.2·avg cross-multiplies to the EXACT
    integer test 5·q·cnt < sum_qty (quantities are integral in the
    fixture), so no float division exists on either engine. Both joins
    are partkey-equi; the stats side is part-cardinality."""
    l = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    stats = l.groupBy(F.col("l_partkey").alias("s_partkey")).agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(qty).cast("long").alias("sum_qty"),
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == Q17_BRAND
    )
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(stats, l.l_partkey == stats.s_partkey)
        .filter(qty * 5 * F.col("cnt") < F.col("sum_qty"))
    )
    return joined.agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("price_cents"),
    )


# --- Q22 shape: wealthy inactive customers ------------------------------------

Q22_RECENT = "2000-01-01 00:00:00"

Q22_ORACLE = f"""
WITH avg_bal AS (
  SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_custs,
       CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
CROSS JOIN avg_bal a
WHERE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) * a.n > a.sum_cents
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '{Q22_RECENT}'
  )
GROUP BY n.n_name
"""


@query("q22_inactive_customers", oracle=Q22_ORACLE)
def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 shape: per-nation counts of above-average-balance
    customers with NO RECENT order (none since 2000 — the fixture's
    order coverage is dense enough that lifetime-never-ordered is
    empty, so the inactivity cut is recency-based, the realistic churn
    form; the fixture also lacks c_phone, so the country-code grouping
    becomes the nation dim). The plan shape is Q22's: scalar global
    average as a broadcast single row, an above-average
    cross-multiplied INTEGER test, and the NOT EXISTS decorrelated to
    a LEFT ANTI join on custkey (date filter pushed into the anti
    side's scan). The anti join is the only corpus shuffle."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(cents).cast("long").alias("sum_cents"),
            F.count("*").cast("long").alias("n"),
        )
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= Q22_RECENT)
        .select("o_custkey")
    )
    n = load_table(spark, sf_dir, "nation")
    wealthy = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(cents * F.col("n") > F.col("sum_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        wealthy.join(F.broadcast(n), wealthy.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_custs"),
            F.sum(cents).cast("long").alias("total_cents"),
        )
    )


# --- Q7 shape: bi-nation trade volume -----------------------------------------

Q07_NATION_A = "NATION_3"
Q07_NATION_B = "NATION_7"

Q07_ORACLE = f"""
SELECT
  ns.n_name AS supp_nation,
  nc.n_name AS cust_nation,
  CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
  CAST(count(*) AS BIGINT) AS n_lines,
  {REV_SQL} AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
WHERE (ns.n_name = '{Q07_NATION_A}' AND nc.n_name = '{Q07_NATION_B}')
   OR (ns.n_name = '{Q07_NATION_B}' AND nc.n_name = '{Q07_NATION_A}')
GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
"""


@query("q07_nation_volume", oracle=Q07_ORACLE)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 shape: yearly trade volume between two nations in both
    directions. The interesting planning property: the disjunctive
    two-direction nation predicate sits over FOUR broadcast dims
    (customer, supplier, nation×2), so the only shuffle in the whole
    plan is the orders⋈lineitem fact-fact join — the nation filter
    reaches the probe side through the broadcasts before the fact
    shuffle output grows. Exact fixed-point revenue per the module
    recipe; year() is integer on both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
        .filter(
            (
                (F.col("supp_nation") == Q07_NATION_A)
                & (F.col("cust_nation") == Q07_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q07_NATION_B)
                & (F.col("cust_nation") == Q07_NATION_A)
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(_revenue_units()).alias("_rev_units"),
        )
        .select(
            "supp_nation",
            "cust_nation",
            "ship_year",
            "n_lines",
            _revenue_final().alias("revenue"),
        )
    )


# --- Q8 shape: national market share ------------------------------------------

Q08_REGION = "EUROPE"
Q08_NATION = "NATION_3"   # the supplier nation whose share we track
Q08_PTYPE = "PROMO"

Q08_ORACLE = f"""
SELECT
  CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
  CAST(sum(CASE WHEN ns.n_name = '{Q08_NATION}' THEN u ELSE 0 END) AS BIGINT)
    AS nation_units,
  CAST(sum(u) AS BIGINT) AS total_units,
  CAST(sum(CASE WHEN ns.n_name = '{Q08_NATION}' THEN u ELSE 0 END) AS DOUBLE)
    / CAST(sum(u) AS DOUBLE) AS mkt_share
FROM (
  SELECT l_orderkey, l_partkey, l_suppkey,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           * (10000 - CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS u
  FROM lineitem
) l
JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = '{Q08_PTYPE}'
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = nc.n_regionkey AND r.r_name = '{Q08_REGION}'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
GROUP BY year(o.o_orderdate)
"""


@query("q08_market_share", oracle=Q08_ORACLE)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8 shape: one supplier nation's share of a region's
    market for one part type, per order year — the deepest star join
    in the canonical set (lineitem through part, orders, customer,
    nation, region, supplier, nation again). Every dimension
    broadcasts; both selective filters (part type, region name)
    prune their dims BEFORE broadcast, so the fact side shrinks at
    the scan-adjacent joins and the orders⋈lineitem shuffle is the
    plan's only wide edge. The share is a division of two exact
    integer unit sums, computed once per output year."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q08_PTYPE)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q08_REGION)
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    u = _revenue_units()
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
    )
    nat_u = F.when(F.col("supp_nation") == Q08_NATION, u).otherwise(F.lit(0))
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.sum(nat_u).cast("long").alias("nation_units"),
            F.sum(u).cast("long").alias("total_units"),
        )
        .select(
            "order_year",
            "nation_units",
            "total_units",
            (
                F.col("nation_units").cast("double")
                / F.col("total_units").cast("double")
            ).alias("mkt_share"),
        )
    )


# --- TPC-DS-style bonus shapes --------------------------------------------
#
# The fixture's star schema also supports the two most-cited TPC-DS plan
# shapes that TPC-H lacks: the consecutive-year growth self-comparison
# (Q4/Q11 — here a window ``lag``, not a self-join) and the
# cumulative-series full-outer compare (Q51). Both follow the module's
# exact fixed-point money recipe, so the oracles are value-hash exact.

# >25% YoY growth, tested as an exact integer cross-multiplication
# (cur_cents * 100 > prev_cents * DS1_GROWTH_NUM) — no float ratio.
DS1_GROWTH_NUM = 125

DS1_ORACLE = f"""
WITH yearly AS (
  SELECT o_custkey AS cust,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders
  GROUP BY 1, 2
),
seq AS (
  SELECT yr, cents,
         lag(yr)    OVER (PARTITION BY cust ORDER BY yr) AS prev_yr,
         lag(cents) OVER (PARTITION BY cust ORDER BY yr) AS prev_cents
  FROM yearly
)
SELECT yr AS order_year,
       CAST(count(*) AS BIGINT) AS n_growers,
       CAST(sum(cents) AS BIGINT) / 100.0 AS grown_spend
FROM seq
WHERE prev_yr = yr - 1 AND cents * 100 > prev_cents * {DS1_GROWTH_NUM}
GROUP BY yr
"""


@query("ds1_yoy_growth", oracle=DS1_ORACLE)
def ds1_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q4/Q11 shape: customers whose yearly spend grew >25%
    over the immediately preceding year, rolled up per year.

    The canonical formulation self-joins the per-customer yearly
    aggregate on (custkey, year+1); a window ``lag`` over the same
    aggregate is strictly better at any scale — the year-adjacent pair
    is assembled inside one customer-keyed partition instead of
    through a second corpus-wide shuffle, and the consecutive-year
    requirement (``prev_yr = yr - 1``, Q11's ``d_year = d_year + 1``)
    is one integer predicate. Growth is an exact BIGINT
    cross-multiplication, so both engines select the identical grower
    set. Scale: the only full-data stage is the scan + map-side
    partial of the (cust, yr) aggregate; every post-exchange frame is
    customer-year-sized, and the closing per-year rollup is
    dim-sized."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    yearly = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.year("o_orderdate").cast("long").alias("yr"),
    ).agg(F.sum(cents).alias("cents"))
    w = Window.partitionBy("cust").orderBy("yr")
    seq = yearly.select(
        "yr",
        "cents",
        F.lag("yr").over(w).alias("prev_yr"),
        F.lag("cents").over(w).alias("prev_cents"),
    )
    return (
        seq.filter(
            (F.col("prev_yr") == F.col("yr") - 1)
            & (F.col("cents") * 100 > F.col("prev_cents") * DS1_GROWTH_NUM)
        )
        .groupBy(F.col("yr").alias("order_year"))
        .agg(
            F.count("*").cast("long").alias("n_growers"),
            F.sum("cents").alias("_sc"),
        )
        .select(
            "order_year",
            "n_growers",
            (F.col("_sc") / F.lit(100.0)).alias("grown_spend"),
        )
    )


DS2_ORACLE = """
WITH f AS (
  SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS month,
         sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
           AS f_units
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_linestatus = 'F'
  GROUP BY 1, 2
),
o AS (
  SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS month,
         sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
           AS o_units
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_linestatus = 'O'
  GROUP BY 1, 2
),
m AS (
  SELECT coalesce(f.brand, o.brand) AS brand,
         coalesce(f.month, o.month) AS month,
         coalesce(f.f_units, 0) AS f_units,
         coalesce(o.o_units, 0) AS o_units
  FROM f FULL JOIN o ON f.brand = o.brand AND f.month = o.month
),
c AS (
  SELECT brand, month,
         sum(f_units) OVER (PARTITION BY brand ORDER BY month
                            ROWS UNBOUNDED PRECEDING) AS cf,
         sum(o_units) OVER (PARTITION BY brand ORDER BY month
                            ROWS UNBOUNDED PRECEDING) AS co
  FROM m
)
SELECT brand, month,
       CAST((cf + 5000) // 10000 AS BIGINT) / 100.0 AS cum_f_rev,
       CAST((co + 5000) // 10000 AS BIGINT) / 100.0 AS cum_o_rev
FROM c
WHERE cf > co
"""


def _ds2_channel(spark: SparkSession, sf_dir: str, status: str, out: str) -> DataFrame:
    """One channel's (brand, month) revenue series — the linestatus
    filter is pushed to the lineitem scan, part broadcasts."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_linestatus") == status
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.col("l_shipdate")).alias("month"),
        )
        .agg(F.sum(_revenue_units()).alias(out))
    )


@query("ds2_cumulative_compare", oracle=DS2_ORACLE)
def ds2_cumulative_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q51 shape: two independently-aggregated revenue series
    (the fixture's 'F'/'O' linestatus channels standing in for
    store/web fact tables) FULL-OUTER joined on (brand, month), then
    running totals per brand with the months interleaved, keeping the
    months where the F-channel's cumulative revenue leads.

    This is the one canonical report shape whose plan a star schema
    can't avoid: when the two series come from DIFFERENT fact tables
    (as in Q51 proper), there is no conditional-aggregation rewrite —
    the full outer join IS the merge, and the running totals must run
    over its null-padded output. Kept structurally faithful here (two
    filtered aggregates, each filter pushed to its scan, part
    broadcast on both branches) so the plan exercises
    aggregate→full-outer-SMJ→window. Cumulative sums stay in exact
    cent·basis-point BIGINTs through the window; the half-up cent
    rounding and single double division happen once per output row.
    (brand, month) is unique after the join, so the ROWS frame is
    tie-free and deterministic."""
    f = _ds2_channel(spark, sf_dir, "F", "f_units")
    o = _ds2_channel(spark, sf_dir, "O", "o_units")
    m = f.join(
        o,
        (f["brand"] == o["brand"]) & (f["month"] == o["month"]),
        "full_outer",
    ).select(
        F.coalesce(f["brand"], o["brand"]).alias("brand"),
        F.coalesce(f["month"], o["month"]).alias("month"),
        F.coalesce(f["f_units"], F.lit(0).cast("long")).alias("f_units"),
        F.coalesce(o["o_units"], F.lit(0).cast("long")).alias("o_units"),
    )
    w = (
        Window.partitionBy("brand")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = m.select(
        "brand",
        "month",
        F.sum("f_units").over(w).alias("cf"),
        F.sum("o_units").over(w).alias("co"),
    )
    return c.filter(F.col("cf") > F.col("co")).select(
        "brand",
        "month",
        (F.expr("(cf + 5000L) div 10000L") / F.lit(100.0)).alias("cum_f_rev"),
        (F.expr("(co + 5000L) div 10000L") / F.lit(100.0)).alias("cum_o_rev"),
    )


DS3_ORACLE = """
WITH agg AS (
  SELECT p.p_type AS ptype, p.p_brand AS brand,
         CAST(GROUPING(p.p_type) + GROUPING(p.p_brand) AS BIGINT)
           AS lochierarchy,
         CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
           AS BIGINT) AS rev_units
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY ROLLUP(p.p_type, p.p_brand)
)
SELECT ptype, brand, lochierarchy,
       CAST((rev_units + 5000) // 10000 AS BIGINT) / 100.0 AS revenue,
       CAST(rank() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN lochierarchy = 0 THEN ptype END
         ORDER BY rev_units DESC) AS BIGINT) AS rank_within_parent
FROM agg
"""


@query("ds3_hierarchy_rank", oracle=DS3_ORACLE)
def ds3_hierarchy_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q36 shape: revenue ROLLUP over the (type, brand)
    hierarchy with each node RANKED AMONG ITS SIBLINGS — brands
    within their type, types within the grand total — via
    ``grouping()`` arithmetic (lochierarchy) and a rank window whose
    partition key switches on the hierarchy level. This is the one
    canonical composite that makes the Expand-based rollup output
    flow straight into a window: Catalyst plans scan → broadcast part
    → Expand (3 grouping sets) → two-phase aggregate → ONE rank
    exchange; no re-scan per level. Revenue stays in exact
    cent·basis-point BIGINTs through the rollup AND the rank ordering
    (integer ties rank identically on both engines), rounded once per
    output row."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        # rename BEFORE the rollup: grouping() resolves only plain
        # grouping columns, not inline aliases
        .withColumnRenamed("p_type", "ptype")
        .withColumnRenamed("p_brand", "brand")
    )
    agg = (
        joined.rollup("ptype", "brand")
        .agg(
            (F.grouping("ptype") + F.grouping("brand"))
            .cast("long")
            .alias("lochierarchy"),
            F.sum(_revenue_units()).cast("long").alias("rev_units"),
        )
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("lochierarchy") == 0, F.col("ptype")),
    ).orderBy(F.desc("rev_units"))
    return agg.select(
        "ptype",
        "brand",
        "lochierarchy",
        (F.expr("(rev_units + 5000L) div 10000L") / F.lit(100.0)).alias("revenue"),
        F.rank().over(w).cast("long").alias("rank_within_parent"),
    )


# ---------------------------------------------------------------------------
# ds4 — TPC-DS Q67 shape: deep rollup + top-k per category
# ---------------------------------------------------------------------------

DS4_TOPK = 10

DS4_ORACLE = f"""
WITH src AS (
  SELECT p.p_type AS ptype, p.p_brand AS brand,
         CAST(year(l.l_shipdate) AS BIGINT)  AS yr,
         CAST(month(l.l_shipdate) AS BIGINT) AS mo,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
           * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))
           AS units
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
agg AS (
  SELECT ptype, brand, yr, mo,
         CAST(sum(units) AS BIGINT) AS rev_units
  FROM src
  GROUP BY ROLLUP(ptype, brand, yr, mo)
),
ranked AS (
  SELECT ptype, brand, yr, mo, rev_units,
         CAST(rank() OVER (PARTITION BY ptype ORDER BY rev_units DESC)
              AS BIGINT) AS rk
  FROM agg
)
SELECT ptype, brand, yr, mo,
       CAST((rev_units + 5000) // 10000 AS BIGINT) / 100.0 AS revenue,
       rk
FROM ranked
WHERE rk <= {DS4_TOPK}
"""


@query("ds4_rollup_topk", oracle=DS4_ORACLE)
def ds4_rollup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q67 shape: revenue ROLLUP over the full
    (type, brand, year, month) hierarchy, then the top-k hierarchy
    nodes WITHIN EACH TYPE by revenue — subtotals compete with their
    own children, exactly as Q67's rollup rows compete inside
    i_category. Distinct from ds3 (Q36): the rank partition is the
    top-level dimension only, the hierarchy is 4 levels deep (5
    grouping sets in one Expand), and the rank feeds a k-filter, so
    the window's sort is the last full pass before an output bounded
    at k rows per type.

    Scale: scan + broadcast(part) + ONE Expand-based two-phase
    aggregate (5× fanout happens AFTER the map-side partial) + one
    rank exchange hashed on ptype. The k-filter bounds the output at
    |types|·k regardless of corpus size. Revenue stays in exact
    cent·basis-point BIGINTs through rollup AND rank ordering (ties
    rank identically on both engines — e.g. a subtotal over a single
    child ties that child exactly); rounded once per output row.
    grouping-NULL rows (yr/mo NULL above leaf level) are genuine
    rollup output on both engines; the one all-NULL grand-total row
    forms its own rank-1 partition."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    src = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        # plain columns BEFORE rollup (grouping-column resolution rule)
        .withColumnRenamed("p_type", "ptype")
        .withColumnRenamed("p_brand", "brand")
        .withColumn("yr", F.year("l_shipdate").cast("long"))
        .withColumn("mo", F.month("l_shipdate").cast("long"))
    )
    agg = src.rollup("ptype", "brand", "yr", "mo").agg(
        F.sum(_revenue_units()).cast("long").alias("rev_units")
    )
    w = Window.partitionBy("ptype").orderBy(F.desc("rev_units"))
    return (
        agg.withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rk") <= DS4_TOPK)
        .select(
            "ptype",
            "brand",
            "yr",
            "mo",
            (F.expr("(rev_units + 5000L) div 10000L") / F.lit(100.0)).alias(
                "revenue"
            ),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# ds5 — TPC-DS Q95 shape: semi-join chain (multi-supplier orders with returns)
# ---------------------------------------------------------------------------

DS5_LO = "1997-01-01 00:00:00"
DS5_HI = "1998-01-01 00:00:00"

DS5_ORACLE = f"""
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS order_count,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) / 100.0 AS total_spend
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{DS5_LO}'
  AND o.o_orderdate <  TIMESTAMP '{DS5_HI}'
  AND o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey
                       HAVING count(DISTINCT l_suppkey) >= 2)
  AND o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       WHERE l_returnflag = 'R')
GROUP BY o.o_orderpriority
"""


@query("ds5_semi_join_chain", oracle=DS5_ORACLE)
def ds5_semi_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q95 shape: one year of orders that (a) ship from at
    least two distinct suppliers (Q95's ws_wh multi-warehouse EXISTS)
    and (b) have at least one returned line (Q95's web_returns
    EXISTS), rolled up per order priority.

    Q95's canonical ws_wh is a lineitem SELF-JOIN on the order key
    filtered to distinct suppliers — O(lines²/order) pairs just to
    test "≥2 suppliers". Two reworks landed here, both r9 300×-rung
    findings (174 s at 300× originally):

    - "≥2 DISTINCT suppliers" needs no distinct at all — it is exactly
      ``min(l_suppkey) != max(l_suppkey)``: a plain min/max aggregate,
      fully map-side combinable, O(16 bytes)/key state, no two-phase
      distinct Expand and no (orderkey, suppkey) pre-dedup shuffle.
    - Both EXISTS tests fuse into that ONE aggregate pass: the
      returned-line test is ``max(l_returnflag = 'R')`` in the same
      groupBy, so lineitem is scanned ONCE and shuffled ONCE, and a
      single LEFT SEMI probe replaces the two-probe chain (the probe
      hashes on the same order key the aggregate produced, so it
      reuses that partitioning).

    The date filter is pushed to the orders scan. o_totalprice is
    summed in exact cents (one value per surviving order row — no
    join fanout to double-count)."""
    lo = F.lit(DS5_LO).cast("timestamp")
    hi = F.lit(DS5_HI).cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("_s_lo"),
            F.max("l_suppkey").alias("_s_hi"),
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("_has_r"),
        )
        .filter((F.col("_s_lo") != F.col("_s_hi")) & (F.col("_has_r") == 1))
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        o.join(qualifying, o.o_orderkey == qualifying.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("order_count"),
            F.sum(cents).alias("_sc"),
        )
        .select(
            "priority",
            "order_count",
            (F.col("_sc") / F.lit(100.0)).alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# ds6 — TPC-DS Q88 shape: N independent count cells from ONE scan
# ---------------------------------------------------------------------------

DS6_ORACLE = """
SELECT
  CAST(count(*) FILTER (WHERE l_quantity < 13 AND l_discount < 0.05) AS BIGINT) AS lo_lo,
  CAST(count(*) FILTER (WHERE l_quantity < 13 AND l_discount >= 0.05) AS BIGINT) AS lo_hi,
  CAST(count(*) FILTER (WHERE l_quantity >= 13 AND l_quantity < 25 AND l_discount < 0.05) AS BIGINT) AS mid1_lo,
  CAST(count(*) FILTER (WHERE l_quantity >= 13 AND l_quantity < 25 AND l_discount >= 0.05) AS BIGINT) AS mid1_hi,
  CAST(count(*) FILTER (WHERE l_quantity >= 25 AND l_quantity < 37 AND l_discount < 0.05) AS BIGINT) AS mid2_lo,
  CAST(count(*) FILTER (WHERE l_quantity >= 25 AND l_quantity < 37 AND l_discount >= 0.05) AS BIGINT) AS mid2_hi,
  CAST(count(*) FILTER (WHERE l_quantity >= 37 AND l_discount < 0.05) AS BIGINT) AS hi_lo,
  CAST(count(*) FILTER (WHERE l_quantity >= 37 AND l_discount >= 0.05) AS BIGINT) AS hi_hi
FROM lineitem
WHERE l_returnflag = 'N'
"""

_DS6_BANDS = [
    ("lo_lo", "l_quantity < 13 AND l_discount < 0.05"),
    ("lo_hi", "l_quantity < 13 AND l_discount >= 0.05"),
    ("mid1_lo", "l_quantity >= 13 AND l_quantity < 25 AND l_discount < 0.05"),
    ("mid1_hi", "l_quantity >= 13 AND l_quantity < 25 AND l_discount >= 0.05"),
    ("mid2_lo", "l_quantity >= 25 AND l_quantity < 37 AND l_discount < 0.05"),
    ("mid2_hi", "l_quantity >= 25 AND l_quantity < 37 AND l_discount >= 0.05"),
    ("hi_lo", "l_quantity >= 37 AND l_discount < 0.05"),
    ("hi_hi", "l_quantity >= 37 AND l_discount >= 0.05"),
]


@query("ds6_multi_band_counts", oracle=DS6_ORACLE)
def ds6_multi_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q88 shape: eight independent count cells (quantity band
    × discount band), one output row. The canonical Q88 runs EIGHT
    separate scans — one subquery per half-hour band — cross-joined
    into a single row; at 100 TB that is eight passes over the fact
    table for eight integers. The scale-correct form is ONE scan with
    eight conditional aggregates: every band is a
    `count(*) FILTER (WHERE …)` over the same pass, the shared
    returnflag filter is pushed to the scan, the partials are
    map-side, and the only exchange is the single-partition gather of
    eight longs. Band predicates sit on raw doubles with constant
    comparisons (no arithmetic) — exact and identical on both
    engines; bands partition the domain so the cells are disjoint and
    auditable against the scan row count."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "N"
    )
    aggs = [
        F.count_if(F.expr(cond)).cast("long").alias(name)
        for name, cond in _DS6_BANDS
    ]
    return li.agg(*aggs)


# ---------------------------------------------------------------------------
# ds7 — TPC-DS Q23 shape: frequent-item ∩ best-customer chain
# ---------------------------------------------------------------------------

DS7_FREQ_MIN = 5  # part is "frequent" with >= 5 shipped lines in the year
DS7_BUYER_MIN = 3  # customer is a "best buyer" with >= 3 orders in the year
DS7_YEAR_LO = "1996-01-01 00:00:00"
DS7_YEAR_HI = "1997-01-01 00:00:00"
DS7_TGT_LO = "1997-01-01 00:00:00"
DS7_TGT_HI = "1997-07-01 00:00:00"

DS7_ORACLE = f"""
WITH frequent_parts AS (
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{DS7_YEAR_LO}'
    AND l_shipdate <  TIMESTAMP '{DS7_YEAR_HI}'
  GROUP BY l_partkey
  HAVING count(*) >= {DS7_FREQ_MIN}
),
best_buyers AS (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{DS7_YEAR_LO}'
    AND o_orderdate <  TIMESTAMP '{DS7_YEAR_HI}'
  GROUP BY o_custkey
  HAVING count(*) >= {DS7_BUYER_MIN}
)
SELECT date_trunc('month', o.o_orderdate) AS order_month,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST((sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
             + 5000) // 10000 AS BIGINT) / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate >= TIMESTAMP '{DS7_TGT_LO}'
  AND o.o_orderdate <  TIMESTAMP '{DS7_TGT_HI}'
  AND l.l_partkey IN (SELECT l_partkey FROM frequent_parts)
  AND o.o_custkey IN (SELECT o_custkey FROM best_buyers)
GROUP BY 1
"""


@query("ds7_frequent_buyer_chain", oracle=DS7_ORACLE)
def ds7_frequent_buyer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q23 shape: target-period revenue restricted to
    FREQUENTLY-SOLD parts bought by BEST customers, both cohorts
    mined from the prior year. Two independent aggregate-reduced
    build sides — a part cohort (bounded by |part|) and a customer
    cohort (bounded by |customer|) — gate the fact scan through LEFT
    SEMI probes on different keys, then the survivors roll up per
    month in exact fixed point.

    Scale: each cohort is a HAVING-filtered aggregate whose partial
    runs map-side over a date-pruned scan, and each collapses to
    dimension cardinality BEFORE touching the probe side — the fact
    table is never joined to anything fact-sized. The target-period
    date filters push to both fact scans; the lineitem⋈orders join is
    the one genuine fact-fact shuffle (orders exceeds broadcast at
    production scale), and both semi probes reuse already-shuffled
    keys (partkey on the line side, custkey on the order side).
    Revenue stays in cent·basis-point BIGINTs until one final
    rounding per month row."""
    year_lo = F.lit(DS7_YEAR_LO).cast("timestamp")
    year_hi = F.lit(DS7_YEAR_HI).cast("timestamp")
    tgt_lo = F.lit(DS7_TGT_LO).cast("timestamp")
    tgt_hi = F.lit(DS7_TGT_HI).cast("timestamp")

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    frequent_parts = (
        li.filter((F.col("l_shipdate") >= year_lo) & (F.col("l_shipdate") < year_hi))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= DS7_FREQ_MIN)
        .select("l_partkey")
    )
    best_buyers = (
        orders.filter(
            (F.col("o_orderdate") >= year_lo) & (F.col("o_orderdate") < year_hi)
        )
        .groupBy("o_custkey")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= DS7_BUYER_MIN)
        .select("o_custkey")
    )
    tgt_orders = orders.filter(
        (F.col("o_orderdate") >= tgt_lo) & (F.col("o_orderdate") < tgt_hi)
    ).select("o_orderkey", "o_custkey", "o_orderdate")

    gated_orders = tgt_orders.join(best_buyers, "o_custkey", "left_semi")
    gated_lines = li.join(frequent_parts, "l_partkey", "left_semi")
    return (
        gated_lines.join(
            gated_orders, gated_lines.l_orderkey == gated_orders.o_orderkey
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(_revenue_units()).alias("_rev_units"),
        )
        .withColumn("revenue", _revenue_final())
        .drop("_rev_units")
    )


# ---------------------------------------------------------------------------
# DS8: TPC-DS Q39 shape — high-variance detection over consecutive months.
# ---------------------------------------------------------------------------

# Coefficient-of-variation threshold, exact fixed point: stdev > 0.57·mean
# ⇔ 10000·n·(n·Σx² − (Σx)²) > 3249·(n−1)·(Σx)²  (both sides BIGINT; 0.57²
# = 0.3249). Uniform 1..50 quantities land cov ≈ 0.565, so the threshold
# splits groups on their sampling variation — the flag set is non-trivial
# at every sf, and because the comparison is integer cross-multiplication
# it is bit-identical on both engines (no stddev_samp float accumulation,
# whose summation ORDER differs between Spark and DuckDB).
DS8_COV2_NUM = 3249
DS8_COV2_DEN = 10000
DS8_MIN_N = 5

DS8_ORACLE = f"""
WITH m AS (
  SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS mon,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(l.l_quantity AS BIGINT) * CAST(l.l_quantity AS BIGINT))
              AS BIGINT) AS sq
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, mon
),
f AS (
  SELECT brand, mon, n,
         (n >= {DS8_MIN_N} AND
          {DS8_COV2_DEN} * CAST(n AS HUGEINT) *
            (CAST(n AS HUGEINT) * sq - CAST(s AS HUGEINT) * s) >
          {DS8_COV2_NUM} * (CAST(n AS HUGEINT) - 1) * s * s) AS hi
  FROM m
),
lagged AS (
  SELECT brand, mon, n, hi,
         lag(mon) OVER (PARTITION BY brand ORDER BY mon) AS pmon,
         lag(hi)  OVER (PARTITION BY brand ORDER BY mon) AS phi,
         lag(n)   OVER (PARTITION BY brand ORDER BY mon) AS pn
  FROM f
)
SELECT brand, pmon AS mon1, mon AS mon2,
       CAST(pn AS BIGINT) AS n1, CAST(n AS BIGINT) AS n2
FROM lagged
WHERE hi AND phi AND mon = pmon + INTERVAL 1 MONTH
"""


@query("ds8_variance_streaks", oracle=DS8_ORACLE)
def ds8_variance_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q39 shape: (brand, month) cells whose quantity
    coefficient of variation exceeds a threshold in TWO CONSECUTIVE
    months. Q39's canonical form self-joins the monthly-stats CTE on
    (warehouse, item, month+1); here the pair detection is a lag
    window over the stats frame — join-free, one pass.

    Exactness: the cov test is integer cross-multiplication over
    (n, Σx, Σx²) BIGINTs (quantities are integral), NOT stddev_samp —
    float variance accumulates in engine-specific order and would
    hash-diverge; the integer form is bit-identical on both engines.

    Scale: the fact scan aggregates map-side to (brand, month) partial
    rows — fact-sized data never crosses an exchange; the stats frame
    is bounded by |brands|·|months| regardless of corpus size, so the
    lag window (partitioned by brand, ~25 partitions) is metadata-
    sized work. The cross-product is widened to DECIMAL(38,0) /
    HUGEINT on the two engines BEFORE multiplying — the r9 100× rung
    caught the BIGINT form overflowing at ~29k rows/cell (ANSI
    ARITHMETIC_OVERFLOW); 38 digits holds to ~1.6e10 rows/cell, and
    the widened values live only inside the boolean test, never in
    the output. Two exchanges total, both carrying group-sized
    rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", F.col("l_quantity").cast("long").alias("q")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("mon"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("q").alias("s"),
            F.sum(F.col("q") * F.col("q")).alias("sq"),
        )
    )
    # DECIMAL(38,0) operands: exact integer compare up to ~1.6e10
    # rows/cell (BIGINT overflowed at the 100x rung's ~29k rows/cell)
    nD = F.col("n").cast("decimal(38,0)")
    sD = F.col("s").cast("decimal(38,0)")
    sqD = F.col("sq").cast("decimal(38,0)")
    hi = (F.col("n") >= DS8_MIN_N) & (
        F.lit(DS8_COV2_DEN) * nD * (nD * sqD - sD * sD)
        > F.lit(DS8_COV2_NUM) * (nD - 1) * sD * sD
    )
    f = m.select("brand", "mon", "n", hi.alias("hi"))
    w = Window.partitionBy("brand").orderBy("mon")
    lagged = f.select(
        "brand",
        "mon",
        "n",
        "hi",
        F.lag("mon").over(w).alias("pmon"),
        F.lag("hi").over(w).alias("phi"),
        F.lag("n").over(w).alias("pn"),
    )
    return lagged.filter(
        F.col("hi")
        & F.col("phi")
        & (F.col("mon") == F.expr("pmon + INTERVAL 1 MONTH"))
    ).select(
        "brand",
        F.col("pmon").alias("mon1"),
        F.col("mon").alias("mon2"),
        F.col("pn").cast("long").alias("n1"),
        F.col("n").cast("long").alias("n2"),
    )


# ---------------------------------------------------------------------------
# DS9: TPC-DS Q73/Q34 shape — banded trip counts joined back to customers.
# ---------------------------------------------------------------------------

DS9_LO, DS9_HI = 5, 7

DS9_ORACLE = f"""
WITH t AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY l_orderkey
  HAVING count(*) BETWEEN {DS9_LO} AND {DS9_HI}
)
SELECT c.c_name AS cust_name, c.c_mktsegment AS segment,
       o.o_orderkey AS order_key, t.n_items
FROM t
JOIN orders o   ON t.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


@query("ds9_banded_trips", oracle=DS9_ORACLE)
def ds9_banded_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q73/Q34 shape: orders whose item count falls in a band,
    returned one row per qualifying trip with the buying customer's
    attributes — the "which households make N-item trips" report.

    Scale: the line count aggregates map-side (partial count before
    the orderkey exchange), and the HAVING band collapses the
    aggregate BEFORE any join — only banded order keys reach the
    orders join, which reuses the aggregate's orderkey partitioning
    on the build side (one new shuffle: orders). customer joins as a
    broadcast dim (Q73's star pattern) — deliberately WITHOUT an
    explicit F.broadcast() hint, because customer scales with sf
    (unlike part, which the scale harness holds fixed): below
    autoBroadcastJoinThreshold the planner/AQE picks broadcast on its
    own, and past it the join degrades gracefully to a shuffled hash
    join on custkey instead of pinning an OOM-sized broadcast. No
    fact-sized frame is ever joined to another fact-sized frame
    un-reduced."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    trips = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"))
        .filter(F.col("n_items").between(DS9_LO, DS9_HI))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return (
        trips.join(orders, trips.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderkey").alias("order_key"),
            "n_items",
        )
    )


# ---------------------------------------------------------------------------
# DS10: TPC-DS Q47/Q57 shape — largest deviations from the moving average.
# ---------------------------------------------------------------------------

DS10_TOPK = 20

DS10_ORACLE = f"""
WITH m AS (
  SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS mon,
         CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, mon
),
w AS (
  SELECT brand, mon, cents,
         lag(cents)  OVER (PARTITION BY brand ORDER BY mon) AS prev_c,
         lead(cents) OVER (PARTITION BY brand ORDER BY mon) AS next_c,
         lag(mon)  OVER (PARTITION BY brand ORDER BY mon) AS prev_m,
         lead(mon) OVER (PARTITION BY brand ORDER BY mon) AS next_m
  FROM m
),
d AS (
  SELECT brand, mon, cents,
         abs(3 * cents - (prev_c + cents + next_c)) AS dev3
  FROM w
  WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
    AND mon = prev_m + INTERVAL 1 MONTH
    AND next_m = mon + INTERVAL 1 MONTH
)
SELECT brand, mon, cents, CAST(dev3 AS BIGINT) AS dev3
FROM d
ORDER BY dev3 DESC, brand, mon
LIMIT {DS10_TOPK}
"""


@query("ds10_moving_deviation", oracle=DS10_ORACLE)
def ds10_moving_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q47/Q57 shape: the (brand, month) revenue cells that
    deviate most from their centered 3-month moving average — the
    anomaly-report pattern. Q47's canonical form self-joins the
    monthly CTE twice (month-1 and month+1 aliases); here both
    neighbors come from ONE lag+lead window, and the gap test (both
    neighbors must be the ADJACENT calendar month) keeps sparse series
    honest without a calendar join.

    Exactness: revenue is fixed-point cents; the deviation is
    |3·cur − (prev+cur+next)| — the moving average scaled by 3 so no
    division ever happens (BIGINT-safe: 3·cents of a brand-month is
    far under int64 even at 100 TB, ~1e14 cents/cell at 1e9
    rows/cell). Integer ties rank identically on both engines through
    the (dev3, brand, mon) tiebreak.

    Scale: fact rows aggregate map-side to |brands|·|months| cells
    before the window (the ds8 shape); the top-k lowers to
    TakeOrderedAndProject — group-sized exchanges only."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("long")
        .alias("_c"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("mon"),
        )
        .agg(F.sum("_c").alias("cents"))
    )
    w = Window.partitionBy("brand").orderBy("mon")
    d = (
        m.select(
            "brand",
            "mon",
            "cents",
            F.lag("cents").over(w).alias("prev_c"),
            F.lead("cents").over(w).alias("next_c"),
            F.lag("mon").over(w).alias("prev_m"),
            F.lead("mon").over(w).alias("next_m"),
        )
        .filter(
            F.col("prev_c").isNotNull()
            & F.col("next_c").isNotNull()
            & (F.col("mon") == F.expr("prev_m + INTERVAL 1 MONTH"))
            & (F.col("next_m") == F.expr("mon + INTERVAL 1 MONTH"))
        )
        .select(
            "brand",
            "mon",
            "cents",
            F.abs(3 * F.col("cents") - (F.col("prev_c") + F.col("cents") + F.col("next_c")))
            .cast("long")
            .alias("dev3"),
        )
    )
    return d.orderBy(F.desc("dev3"), "brand", "mon").limit(DS10_TOPK)


# ---------------------------------------------------------------------------
# DS13: TPC-DS Q93 shape — returns-adjusted revenue per customer.
# ---------------------------------------------------------------------------

DS13_TOPK = 50

DS13_ORACLE = f"""
WITH sales AS (
  SELECT l_orderkey, l_linenumber,
         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem WHERE l_returnflag <> 'R'
  GROUP BY l_orderkey, l_linenumber
),
returns AS (
  SELECT l_orderkey, l_linenumber,
         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey, l_linenumber
),
adj AS (
  SELECT s.l_orderkey,
         greatest(s.qty - coalesce(r.qty, 0), 0) AS act_qty,
         greatest(s.cents - coalesce(r.cents, 0), 0) AS act_cents
  FROM sales s
  LEFT JOIN returns r
    ON s.l_orderkey = r.l_orderkey AND s.l_linenumber = r.l_linenumber
)
SELECT o.o_custkey,
       CAST(sum(a.act_qty) AS BIGINT) AS net_qty,
       CAST(sum(a.act_cents) AS BIGINT) AS net_cents
FROM adj a JOIN orders o ON a.l_orderkey = o.o_orderkey
GROUP BY o.o_custkey
HAVING sum(a.act_cents) > 0
ORDER BY net_cents DESC, o_custkey
LIMIT {DS13_TOPK}
"""


@query("ds13_returns_impact", oracle=DS13_ORACLE)
def ds13_returns_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-Q93 shape: sales re-stated net of returns — per order
    line, returned quantity/value (the l_returnflag='R' slice) offsets
    the sold quantity/value (floored at zero), then net revenue rolls
    up per customer, top-k. Q93 LEFT OUTER joins store_sales to
    store_returns on (ticket, item); here both sides are slices of
    lineitem at the (orderkey, linenumber) line grain — the fixture's
    (ok, ln) is NOT unique (verified: 1,161 dup pairs at sf0.001), so
    each slice aggregates to the line grain first, exactly like Q93's
    returns table is per (ticket, item).

    Spark-first fusion: the canonical form is two fact scans + a
    fact-fact LEFT OUTER shuffle join — at 100 TB, two reads and a
    full-width exchange of the biggest table. Because both slices
    partition the SAME rows by a disjoint predicate, they fuse into
    ONE conditional aggregate: a single pushed-scan pass computing
    (sale_qty, sale_cents, ret_qty, ret_cents) per line in one
    groupBy — the join disappears (ds5's fused-EXISTS lesson applied
    to Q93), halving the scans and removing the join exchange
    entirely; lines with only returned rows drop via the n_sale
    counter (= the LEFT join's direction). The oracle keeps the
    canonical two-CTE + LEFT JOIN form, proving the fusion
    row-equivalent. Money math in exact fixed point (cents/qty
    quantized per ROW before any sum, BIGINT throughout); ties broken
    by customer key for a total order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    is_ret = F.col("l_returnflag") == "R"
    lines = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.count(F.when(~is_ret, 1)).alias("n_sale"),
            F.sum(F.when(~is_ret, qty).otherwise(0)).cast("long").alias("sale_qty"),
            F.sum(F.when(~is_ret, cents).otherwise(0)).cast("long").alias("sale_cents"),
            F.sum(F.when(is_ret, qty).otherwise(0)).cast("long").alias("ret_qty"),
            F.sum(F.when(is_ret, cents).otherwise(0)).cast("long").alias("ret_cents"),
        )
        .filter(F.col("n_sale") > 0)
        .select(
            "l_orderkey",
            F.greatest(F.col("sale_qty") - F.col("ret_qty"), F.lit(0).cast("long"))
            .alias("act_qty"),
            F.greatest(F.col("sale_cents") - F.col("ret_cents"), F.lit(0).cast("long"))
            .alias("act_cents"),
        )
    )
    return (
        lines.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum("act_qty").cast("long").alias("net_qty"),
            F.sum("act_cents").cast("long").alias("net_cents"),
        )
        .filter(F.col("net_cents") > 0)
        .orderBy(F.desc("net_cents"), "o_custkey")
        .limit(DS13_TOPK)
    )
