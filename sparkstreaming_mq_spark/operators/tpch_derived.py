"""TPC-H shapes that need columns the fixture lacks, landed on
deterministic *derived dimensions* (SURVEY.md §2.11; VERDICT r7 next-
round item 1).

The ``/root/testdata`` star schema has no ``partsupp`` table and no
``l_shipmode`` / ``l_commitdate`` / ``l_receiptdate`` / ``p_mfgr``
columns, which blocked 7 of the 22 canonical TPC-H shapes (Q2, Q9,
Q11, Q12, Q16, Q20, Q21 — BASELINE.md round-7 closing note). This
module derives those dimensions *identically on both engines* from
pure integer arithmetic over existing key columns, so every query
keeps an exact value-hash DuckDB oracle:

- ``partsupp``: ``SELECT DISTINCT (l_partkey, l_suppkey)`` from
  lineitem with ``ps_availqty`` / ``ps_supplycost_cents`` computed by
  integer hash formulas (positive operands, so Spark's C-style ``%``
  and DuckDB's ``%`` agree). Supply cost stays in BIGINT *cents* so
  all money math is exact fixed point (the module-wide recipe from
  operators/tpch.py:27).
- ``l_shipmode``: 7-way CASE over ``(l_orderkey*11 + l_linenumber*3)
  % 7``.
- ``l_commitdate`` / ``l_receiptdate``: ``l_shipdate`` plus key-derived
  day deltas (commit in [-30, +30], receipt in [+1, +30]) — day
  arithmetic on midnight timestamps, identical in
  ``F.timestampadd("DAY", …)`` and DuckDB ``+ n * INTERVAL 1 DAY``.
- ``p_mfgr``: ``'Manufacturer#' || (p_partkey % 5 + 1)``.

The formulas are scale-free (no constant depends on key ranges), so
the same definitions hold at sf0.001 through 100 TB. No date-typed or
raw-interval column is ever emitted (oracle-parity rules, CLAUDE.md).

Reference parity note: the pinned reference snapshot has no source
(only /root/reference/.gitignore:1-2); the capability bar is
SURVEY.md §2's warehouse-query surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table

# ---------------------------------------------------------------------------
# Shared derivation: SQL CTE prefix (DuckDB) + Spark builders.
# Keep the two representations textually adjacent — they must encode
# the SAME integer formulas or every oracle below diverges.
# ---------------------------------------------------------------------------

_SHIPMODES = ("MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "FOB", "REG AIR")

DERIVED_CTE = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 37 + ps_suppkey * 101) % 9999 + 1 AS BIGINT)
           AS ps_availqty,
         CAST((ps_partkey * 131 + ps_suppkey * 977) % 99901 + 100 AS BIGINT)
           AS ps_supplycost_cents
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem)
),
lineitem_x AS (
  SELECT l.*,
         CASE CAST((l_orderkey * 11 + l_linenumber * 3) % 7 AS BIGINT)
           WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
           WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'RAIL' WHEN 5 THEN 'FOB'
           ELSE 'REG AIR' END AS l_shipmode,
         l_shipdate + CAST((l_orderkey + l_linenumber * 3) % 61 - 30
                           AS BIGINT) * INTERVAL 1 DAY AS l_commitdate,
         l_shipdate + CAST((l_orderkey * 5 + l_linenumber * 7) % 30 + 1
                           AS BIGINT) * INTERVAL 1 DAY AS l_receiptdate
  FROM lineitem l
),
part_x AS (
  SELECT p.*, 'Manufacturer#' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS p_mfgr
  FROM part p
)
"""


def ps_availqty(partkey: str, suppkey: str) -> Column:
    """partsupp's available quantity, a pure function of the pair key."""
    return ((F.col(partkey) * 37 + F.col(suppkey) * 101) % 9999 + 1).cast("long")


def ps_supplycost_cents(partkey: str, suppkey: str) -> Column:
    """partsupp's supply cost in BIGINT cents, a pure function of the pair key."""
    return ((F.col(partkey) * 131 + F.col(suppkey) * 977) % 99901 + 100).cast("long")


def load_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partsupp surrogate: one row per observed (part, supplier)
    pair with hash-derived availqty / supplycost (exact BIGINT cents).

    At 100 TB the distinct is one shuffle over two pruned BIGINT
    columns of the fact scan — the cheapest possible derivation, and
    in a real deployment it would be materialized once (the o10
    bucketed-table machinery in operators/storage.py is the
    write path for that)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    return li.select(
        "ps_partkey",
        "ps_suppkey",
        ps_availqty("ps_partkey", "ps_suppkey").alias("ps_availqty"),
        ps_supplycost_cents("ps_partkey", "ps_suppkey").alias("ps_supplycost_cents"),
    )


def load_lineitem_x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem plus derived l_shipmode / l_commitdate / l_receiptdate.

    Pure per-row codegen columns — filter/column pruning on the base
    scan is unaffected (the derivations reference only l_orderkey,
    l_linenumber, l_shipdate)."""
    li = load_table(spark, sf_dir, "lineitem")
    mode_id = (F.col("l_orderkey") * 11 + F.col("l_linenumber") * 3) % 7
    mode = F.lit(_SHIPMODES[-1])
    for i in range(len(_SHIPMODES) - 2, -1, -1):
        mode = F.when(mode_id == i, F.lit(_SHIPMODES[i])).otherwise(mode)
    cd = ((F.col("l_orderkey") + F.col("l_linenumber") * 3) % 61 - 30).cast("int")
    rd = ((F.col("l_orderkey") * 5 + F.col("l_linenumber") * 7) % 30 + 1).cast("int")
    return (
        li.withColumn("l_shipmode", mode)
        .withColumn("_cd", cd)
        .withColumn("_rd", rd)
        .withColumn(
            "l_commitdate", F.expr("l_shipdate + make_interval(0, 0, 0, _cd, 0, 0, 0)")
        )
        .withColumn(
            "l_receiptdate", F.expr("l_shipdate + make_interval(0, 0, 0, _rd, 0, 0, 0)")
        )
        .drop("_cd", "_rd")
    )


def load_part_x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part plus derived p_mfgr."""
    return load_table(spark, sf_dir, "part").withColumn(
        "p_mfgr",
        F.concat(F.lit("Manufacturer#"), (F.col("p_partkey") % 5 + 1).cast("string")),
    )


def load_partsupp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp materialized ONCE through the o10 bucketed write path
    (operators/storage.py machinery, same N_BUCKETS/catalog-name
    pattern): bucketBy(ps_partkey) + sortBy, cached per sf per
    process. This proves load_partsupp's deployment note instead of
    just stating it — in production the derived dim is a table, not a
    per-query recomputation: the derivation's distinct shuffle is paid
    at WRITE time only, and every downstream groupBy/join on
    ps_partkey inherits the bucket distribution with NO Exchange
    (q11b's plan pin asserts exactly that). Publication goes through
    storage.materialize_bucketed (unique temp dir + atomic rename) so
    concurrent processes can't clobber each other's bucket files
    (ADVICE r9)."""
    import os
    import tempfile

    from sparkstreaming_mq_spark.operators.storage import materialize_bucketed
    from sparkstreaming_mq_spark.tables import cache_key

    key = cache_key(sf_dir, "lineitem")
    name = f"sg_partsupp_b_{key}"
    base = os.path.join(tempfile.gettempdir(), "sparkgraft_buckets", key)
    materialize_bucketed(
        spark,
        load_partsupp(spark, sf_dir),
        name,
        os.path.join(base, "partsupp"),
        "ps_partkey",
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# Q2 shape: minimum-cost supplier per part in a region.
# ---------------------------------------------------------------------------

Q02_ORACLE = f"""
WITH {DERIVED_CTE},
eu AS (
  SELECT ps.ps_partkey, ps.ps_supplycost_cents,
         s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT eu.s_acctbal AS acct_bal, eu.s_name AS supp_name,
       eu.n_name AS nation_name, p.p_partkey AS part_key,
       p.p_mfgr AS mfgr,
       eu.ps_supplycost_cents / 100.0 AS supply_cost
FROM part_x p JOIN eu ON p.p_partkey = eu.ps_partkey
WHERE p.p_size <= 10 AND p.p_type = 'LARGE'
  AND eu.ps_supplycost_cents = (
    SELECT min(e2.ps_supplycost_cents) FROM eu e2
    WHERE e2.ps_partkey = p.p_partkey)
ORDER BY acct_bal DESC, nation_name, supp_name, part_key
LIMIT 100
"""


def _q02_body(spark: SparkSession, sf_dir: str, ps: DataFrame) -> DataFrame:
    """Shared Q2 plan over any partsupp frame (derived or bucketed)."""
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        ps
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_supplycost_cents", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("ps_partkey")
    eu_min = eu.withColumn(
        "_min_cost", F.min("ps_supplycost_cents").over(w)
    ).filter(F.col("ps_supplycost_cents") == F.col("_min_cost"))
    part = load_part_x(spark, sf_dir).filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "LARGE")
    )
    return (
        eu_min.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            F.col("s_acctbal").alias("acct_bal"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation_name"),
            F.col("p_partkey").alias("part_key"),
            F.col("p_mfgr").alias("mfgr"),
            (F.col("ps_supplycost_cents") / F.lit(100.0)).alias("supply_cost"),
        )
        .orderBy(F.desc("acct_bal"), "nation_name", "supp_name", "part_key")
        .limit(100)
    )


@query("q02_min_cost_supplier", oracle=Q02_ORACLE)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 shape: cheapest regional supplier per qualifying part.

    Spark-first: the correlated min subquery becomes a window
    ``min() OVER (PARTITION BY ps_partkey)`` on the region-filtered
    partsupp frame — one shuffle by part key instead of a self-join.
    supplier/nation/region broadcast; the size/type-filtered part side
    is tiny and broadcasts into the final join. Cost ties keep ALL
    minimum-cost suppliers (canonical semantics), and the final
    ORDER BY+LIMIT lowers to TakeOrderedAndProject.
    """
    return _q02_body(spark, sf_dir, load_partsupp(spark, sf_dir))


@query("q02b_min_cost_supplier_bucketed", oracle=Q02_ORACLE)
def q02b_min_cost_supplier_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 probing the MATERIALIZED partsupp: the bucketed layout
    serves WINDOWS too, not just aggregates — the ``min() OVER
    (PARTITION BY ps_partkey)`` window's required distribution is
    satisfied by the bucket scan (broadcast dim joins preserve it), so
    Q2's only data-sized shuffle disappears: the plan has NO Exchange
    hash-partitioned on ps_partkey (plan-pinned; the fused top-100 is
    the only ordering exchange left). Same oracle as q02."""
    return _q02_body(spark, sf_dir, load_partsupp_bucketed(spark, sf_dir))


# ---------------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year.
# ---------------------------------------------------------------------------

# Profit per line in cent·basis-point units, all BIGINT-exact:
# revenue_units  = cents(price) * (10000 - bp(discount))
# cost_units     = supplycost_cents * qty * 10000
# The group sum can be NEGATIVE, so no half-up integer rounding (Spark
# `div` truncates, DuckDB `//` floors — they disagree below zero);
# instead ONE deterministic int64→double conversion + division by the
# exactly-representable 1e6 on both engines.
Q09_ORACLE = f"""
WITH {DERIVED_CTE}
SELECT n.n_name AS nation_name,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
           * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))
         - ps.ps_supplycost_cents * CAST(l.l_quantity AS BIGINT) * 10000
       ) AS BIGINT) / 1000000.0 AS profit
FROM lineitem_x l
JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                AND ps.ps_suppkey = l.l_suppkey
JOIN part p      ON p.p_partkey = l.l_partkey
JOIN supplier s  ON s.s_suppkey = l.l_suppkey
JOIN orders o    ON o.o_orderkey = l.l_orderkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY nation_name, o_year DESC
"""


@query("q09_product_profit", oracle=Q09_ORACLE)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9 shape: profit on '%red%' parts by supplier nation/year.

    Plan: the name-filtered part side broadcasts and prunes lineitem
    early; supplier/nation broadcast; orders⋈lineitem is the one
    data-sized shuffle. The partsupp join is computed INLINE: partsupp
    is BY CONSTRUCTION the distinct (l_partkey, l_suppkey) pairs of
    this same lineitem with ps_supplycost_cents a pure function of the
    pair key, so the inner join matches every lineitem row exactly
    once and contributes only that key-derived value — evaluating the
    same expression per row is row-identical output (oracle SQL
    unchanged, hash-checked) and deletes the pair-distinct Exchange
    plus the composite-key fact join outright. At 100 TB that was a
    full-fact shuffle on (partkey, suppkey) for values a map stage
    computes for free.
    All money math is BIGINT fixed point; see the oracle header for
    why the final step is a plain /1e6 instead of half-up rounding.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    bp = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    # load_partsupp's supply cost applied to this row's pair key
    supplycost_cents = ps_supplycost_cents("l_partkey", "l_suppkey")
    profit_units = cents * (F.lit(10000) - bp) - (
        supplycost_cents * F.col("l_quantity").cast("long") * F.lit(10000)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit_units).alias("_units"))
        .select(
            "nation_name",
            "o_year",
            (F.col("_units") / F.lit(1000000.0)).alias("profit"),
        )
        .orderBy("nation_name", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q11 shape: important stock (part value above a multiple of the mean).
# ---------------------------------------------------------------------------

# Canonical Q11's HAVING fraction (0.0001/SF) is scale-DEPENDENT by
# spec; here the threshold is scale-free — a part qualifies when its
# nation-local inventory value exceeds 3x the nation mean part value,
# tested as the exact integer cross-multiplication
# ``part_value * n_parts > 3 * total_value``.
Q11_ORACLE = f"""
WITH {DERIVED_CTE},
nat AS (
  SELECT ps.ps_partkey, ps.ps_supplycost_cents * ps.ps_availqty AS v
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
),
tot AS (SELECT sum(v) AS total_v, count(DISTINCT ps_partkey) AS n_parts FROM nat)
SELECT ps_partkey AS part_key, CAST(sum(v) AS BIGINT) AS value_cents
FROM nat, tot
GROUP BY ps_partkey, tot.total_v, tot.n_parts
HAVING sum(v) * n_parts > 3 * total_v
ORDER BY value_cents DESC, part_key
"""


def _q11_body(spark: SparkSession, sf_dir: str, ps: DataFrame) -> DataFrame:
    """Shared Q11 plan over any partsupp frame (derived or bucketed)."""
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat_dim = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    nat = (
        ps
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat_dim), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
        )
    )
    per_part = nat.groupBy("ps_partkey").agg(F.sum("v").alias("value_cents"))
    tot = nat.agg(
        F.sum("v").alias("total_v"),
        F.countDistinct("ps_partkey").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * F.col("n_parts") > 3 * F.col("total_v"))
        .select(F.col("ps_partkey").alias("part_key"), "value_cents")
        .orderBy(F.desc("value_cents"), "part_key")
    )


@query("q11_important_stock", oracle=Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 shape: parts whose nation-local inventory value is an
    outlier vs the nation mean.

    Spark-first: one groupBy over the nation-filtered partsupp frame
    produces per-part values; the global (total, n_parts) pair is a
    1-row aggregate crossJoin-broadcast back (the bounded-crossJoin
    pattern the repo uses everywhere); the HAVING is an exact integer
    cross-multiplication. partsupp is derived once and reused for both
    branches — at scale the per-part aggregate is the only shuffle.
    """
    return _q11_body(spark, sf_dir, load_partsupp(spark, sf_dir))


@query("q11b_important_stock_bucketed", oracle=Q11_ORACLE)
def q11b_important_stock_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 probing the MATERIALIZED partsupp (bucketed by ps_partkey,
    o10 write path): the per-part aggregate — q11's only data-sized
    shuffle — inherits the bucket distribution, so the plan has NO
    Exchange on ps_partkey at all (plan-pinned); only the 1-row global
    aggregate and the final sort exchange anything. Same oracle as
    q11: materialization must not change a single value."""
    return _q11_body(spark, sf_dir, load_partsupp_bucketed(spark, sf_dir))


# ---------------------------------------------------------------------------
# Q12 shape: shipmode / order-priority line counts.
# ---------------------------------------------------------------------------

Q12_ORACLE = f"""
WITH {DERIVED_CTE}
SELECT l_shipmode AS ship_mode,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem_x l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipmode IN ('MAIL','SHIP')
  AND l.l_commitdate < l.l_receiptdate
  AND l.l_shipdate < l.l_commitdate
  AND l.l_receiptdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_receiptdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_shipmode
ORDER BY ship_mode
"""


@query("q12_shipmode_priority", oracle=Q12_ORACLE)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12 shape: late-vs-committed line counts by ship mode.

    The shipmode/date predicates are pure derived-column filters that
    cut lineitem to a sliver BEFORE the one orders⋈lineitem shuffle
    (at sf0.01: 60k lines -> ~600); the priority split is a
    conditional aggregate, one exchange total. AQE may elect to
    broadcast the filtered side at runtime — exactly the adaptivity
    you want at 100 TB where the static plan must assume both sides
    are fact-sized.
    """
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    lx = (
        load_lineitem_x(spark, sf_dir)
        .filter(
            F.col("l_shipmode").isin("MAIL", "SHIP")
            & (F.col("l_commitdate") < F.col("l_receiptdate"))
            & (F.col("l_shipdate") < F.col("l_commitdate"))
            & (F.col("l_receiptdate") >= lo)
            & (F.col("l_receiptdate") < hi)
        )
        .select("l_orderkey", "l_shipmode")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lx.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_shipmode").alias("ship_mode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


# ---------------------------------------------------------------------------
# Q16 shape: supplier counts per (brand, type, size), minus complaints.
# ---------------------------------------------------------------------------

# "Customer Complaints" surrogate: suppliers with s_suppkey % 13 = 0
# (deterministic, scale-free stand-in for the s_comment LIKE filter).
Q16_ORACLE = f"""
WITH {DERIVED_CTE}
SELECT p.p_brand AS brand, p.p_type AS part_type, p.p_size AS part_size,
       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps.ps_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, brand, part_type, part_size
"""


def _q16_body(spark: SparkSession, sf_dir: str, ps: DataFrame) -> DataFrame:
    """Shared Q16 plan over any partsupp frame (derived or bucketed)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    complaints = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 13 == 0)
        .select("s_suppkey")
    )
    return (
        ps
        .join(
            F.broadcast(complaints),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("part_type"),
            F.col("p_size").alias("part_size"),
        )
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "part_type", "part_size")
    )


@query("q16_parts_supplier", oracle=Q16_ORACLE)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 shape: distinct supplier counts per part attribute
    combination, excluding complaint-flagged suppliers.

    The complaint exclusion is a broadcast LEFT ANTI join (supplier is
    dimension-sized at any scale); the brand/type/size filters land on
    the broadcast part side; the only shuffle is the distinct-count
    aggregate by the 3 grouping columns.
    """
    return _q16_body(spark, sf_dir, load_partsupp(spark, sf_dir))


@query("q16b_parts_supplier_bucketed", oracle=Q16_ORACLE)
def q16b_parts_supplier_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 probing the MATERIALIZED partsupp (bucketed, o10 write
    path): the probe's scan reads bucket files directly — the
    derivation's DISTINCT shuffle over the lineitem fact never appears
    in the plan (plan-pinned: no lineitem scan at all). The group-agg
    shuffle on (brand, type, size) remains, as it must — it is
    grouping by different keys than the bucket. Same oracle as q16."""
    return _q16_body(spark, sf_dir, load_partsupp_bucketed(spark, sf_dir))


# ---------------------------------------------------------------------------
# Q20 shape: suppliers with excess stock of promotion-candidate parts.
# ---------------------------------------------------------------------------

Q20_ORACLE = f"""
WITH {DERIVED_CTE}
SELECT s.s_suppkey AS supp_key, s.s_name AS supp_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_3' AND s.s_suppkey IN (
  SELECT ps.ps_suppkey FROM partsupp ps
  WHERE ps.ps_partkey IN
        (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND ps.ps_availqty * 2 > (
      SELECT COALESCE(CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT), 0)
      FROM lineitem l
      WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'))
ORDER BY supp_name, supp_key
"""


@query("q20_potential_promotion", oracle=Q20_ORACLE)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 shape: suppliers holding more than half a year's
    shipped quantity of any 'small%' part.

    Spark-first: the correlated quantity subquery and the partsupp
    build FUSE into ONE grouped aggregate over the part-filtered
    lineitem keyed by (part, supp) with the in-window quantity as a
    conditional sum — partsupp is by construction the distinct pair
    set of this same lineitem with ps_availqty a pure function of the
    pair key, so the pair-distinct Exchange, the second lineitem scan
    and the LEFT pair join all collapse into the aggregate (a group
    with no 1996 rows sums the empty when-branch to 0, exactly the old
    coalesce). The excess-stock test is the exact integer
    ``2*availqty > qty``; the qualifying supplier set reaches supplier
    as a broadcast SEMI join. ONE data-sized shuffle total (the pair
    aggregate); oracle SQL unchanged, hash-checked.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    # load_partsupp's available quantity on the group's pair key
    availqty = ps_availqty("l_partkey", "l_suppkey")
    excess = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi),
                    F.col("l_quantity").cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("qty")
        )
        .filter(availqty * 2 > F.col("qty"))
        .select(F.col("l_suppkey").alias("ps_suppkey"))
        .distinct()
    )
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
        )
        .select(F.col("s_suppkey").alias("supp_key"), F.col("s_name").alias("supp_name"))
        .orderBy("supp_name", "supp_key")
    )


# ---------------------------------------------------------------------------
# Q21 shape: suppliers who kept finished orders waiting.
# ---------------------------------------------------------------------------

Q21_ORACLE = f"""
WITH {DERIVED_CTE}
SELECT s.s_name AS supp_name, count(*) AS numwait
FROM supplier s
JOIN lineitem_x l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_receiptdate > l1.l_commitdate
  AND n.n_name = 'NATION_5'
  AND EXISTS (SELECT 1 FROM lineitem_x l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem_x l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_receiptdate > l3.l_commitdate)
GROUP BY s.s_name
ORDER BY numwait DESC, supp_name
LIMIT 100
"""


@query("q21_waiting_suppliers", oracle=Q21_ORACLE)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 shape: the sole-late supplier on multi-supplier
    finished orders, counted per late line.

    Spark-first: the EXISTS / NOT EXISTS pair collapses into ONE
    per-order aggregate — ``n_supp = countDistinct(supplier)`` and
    ``n_late = countDistinct(supplier | late line)``. For a late line
    l1: "another supplier exists" == n_supp >= 2, and "no OTHER
    supplier is late" == n_late == 1 (l1's own supplier is late, so
    the single late supplier must be l1's). That replaces two
    correlated self-joins of the fact table with one aggregate plus
    one shuffle join back on order key; the F-status orders and the
    nation-filtered supplier dim broadcast.
    """
    lx = load_lineitem_x(spark, sf_dir).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_receiptdate") > F.col("l_commitdate")).alias("late"),
    )
    flags = lx.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        lx.filter(F.col("late"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(flags, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "supp_name")
        .limit(100)
    )
