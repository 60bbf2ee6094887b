"""Sort / limit / top-k / set operations / sampling (SURVEY.md §2.6 O1-O9).

Scale notes: global ORDER BY is a range-partitioned sort (sampled
boundaries, no single-node funnel); ORDER BY + LIMIT fuses into
``TakeOrderedAndProject`` — each partition keeps only k rows and the
driver merges k·p rows, so top-k never materializes a global sort.
Set ops are hash aggregates / joins under the hood and shuffle once on
the full row. Determinism: LIMIT queries pin a total order with a
unique tiebreak (SURVEY.md §2.6 O1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table


# --- O1: global sort (+ deterministic LIMIT) ---------------------------------

@query(
    "o1_global_sort",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)
def o1_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total order + deterministic LIMIT — the driver-slot
    representative for O1 (global sort) / O3 (limit) / O4 (top-k):
    ORDER BY + LIMIT fuses into TakeOrderedAndProject (per-partition
    heap, driver merges k·p rows — never a full global sort at scale);
    the fused plan is asserted in tests/test_plans.py."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"), "o_orderpriority")
        .limit(100)
    )


# --- O2: partition-local sort -------------------------------------------------

@query(
    "o2_sort_within_partitions",
    oracle="""
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem
WHERE l_quantity > 45
""",
)
def o2_sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortWithinPartitions: cheap partition-local pre-sort (no
    exchange). Row *content* is order-insensitive-hash-identical to the
    unsorted relation, which is exactly what the oracle checks."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
    )


# --- O5-O8 combined set operations (driver-slot query) --------------------------

@query(
    "o5_setops",
    oracle="""
SELECT 'union_all' AS op, custkey, count(*) AS n FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
) GROUP BY custkey
UNION ALL
SELECT 'union_distinct' AS op, custkey, 1 AS n FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
  UNION
  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
)
UNION ALL
SELECT 'intersect' AS op, custkey, 1 AS n FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
)
UNION ALL
SELECT 'intersect_all' AS op, custkey, count(*) AS n FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
) GROUP BY custkey
UNION ALL
SELECT 'except' AS op, custkey, 1 AS n FROM (
  SELECT c_custkey AS custkey FROM customer
  EXCEPT
  SELECT o_custkey AS custkey FROM orders
)
UNION ALL
SELECT 'except_all' AS op, custkey, count(*) AS n FROM (
  SELECT o_custkey AS custkey FROM orders
  EXCEPT ALL
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
) GROUP BY custkey
""",
)
def o5_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six set operations (O5 union-all, O6 union-distinct, O7
    intersect/intersectAll, O8 except/exceptAll) in one driver-slot
    query: each branch runs the genuine DataFrame set op, bag results
    are grouped to (key, multiplicity) so every branch shares the
    (op, custkey, n) shape. Under the hood: union-all is a zero-shuffle
    concat; the rest are hash aggregates / left-semi-anti-style joins
    shuffling once on the full row — same plans as the standalone
    variants registered past the scored window."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ok = F.col("o_custkey").alias("custkey")
    ck = F.col("c_custkey").alias("custkey")

    def tag(df: DataFrame, op: str, counted: bool) -> DataFrame:
        if counted:
            df = df.groupBy("custkey").agg(F.count("*").alias("n"))
        else:
            df = df.select("custkey", F.lit(1).cast("long").alias("n"))
        return df.select(F.lit(op).alias("op"), "custkey", "n")

    f_keys = o.filter(F.col("o_orderstatus") == "F").select(ok)
    o_keys = o.filter(F.col("o_orderstatus") == "O").select(ok)
    union_all = tag(
        f_keys.unionByName(c.filter(F.col("c_acctbal") > 0).select(ck)), "union_all", True
    )
    union_distinct = tag(
        o.filter(F.col("o_totalprice") > 250000)
        .select(ok)
        .union(c.filter(F.col("c_acctbal") > 9000).select(ck))
        .distinct(),
        "union_distinct",
        False,
    )
    inter = tag(f_keys.intersect(o_keys), "intersect", False)
    inter_all = tag(f_keys.intersectAll(o_keys), "intersect_all", True)
    exc = tag(c.select(ck).subtract(o.select(ok)), "except", False)
    exc_all = tag(o.select(ok).exceptAll(f_keys), "except_all", True)
    out = union_all
    for part in (union_distinct, inter, inter_all, exc, exc_all):
        out = out.unionByName(part)
    return out


# --- O9: sampling (rows-only: engine RNGs differ) ------------------------------

@query("o9_sample")
def o9_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample of lineitem. No SQL oracle — sampling
    RNG streams are engine-specific; the pytest layer asserts the
    fraction lands near 10% and that the same seed is reproducible."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# --- O16 (bonus): global row numbering WITHOUT a global sort ------------------

O16_PARTS = 8


@query(
    "o16_global_rownum",
    oracle="""
SELECT o_orderkey,
       CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS global_rn
FROM orders
WHERE o_totalprice > 1000
""",
)
def o16_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable global row numbers over a key WITHOUT
    `Window.orderBy(key)` — whose empty partitionBy collapses the whole
    dataset into ONE task (Spark even warns). The scale recipe instead:

    1. range-repartition + partition-local sort on the key — partition
       p holds a contiguous key range, sorted;
    2. count rows per partition (a few integers — driver metadata, the
       zipWithIndex trick lifted to DataFrames);
    3. global_rn = prefix-offset(p) + row_number within p.

    The result is independent of where the sampled range boundaries
    land (rank-by-unique-key is partition-invariant), so it hash-
    matches the single-task oracle while every stage stays parallel.
    Two passes over the data; at 100 TB this is how sequence ids,
    pagination cursors, and stable shard offsets actually get built.
    """
    from pyspark.sql import Window

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 1000)
        .select("o_orderkey")
    )
    parted = orders.repartitionByRange(O16_PARTS, "o_orderkey").sortWithinPartitions(
        "o_orderkey"
    )
    # materialize ONCE: the offset pass and the numbering pass must see
    # the same partition assignment (range boundaries are sampled; a
    # recomputation could legally re-sample), so the partitioned frame
    # is pinned before both reads — persist/checkpoint at cluster scale
    with_pid = parted.withColumn("pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    # one row per partition: sorted on the driver, not by a Spark sort
    counts = sorted(with_pid.groupBy("pid").count().collect(), key=lambda r: r["pid"])
    offsets = {}
    running = 0
    for r in counts:
        offsets[r["pid"]] = running
        running += r["count"]
    offset_col = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        ),
        F.col("pid"),
    )
    w = Window.partitionBy("pid").orderBy("o_orderkey")
    return with_pid.select(
        "o_orderkey",
        (offset_col + F.row_number().over(w)).cast("long").alias("global_rn"),
    )


# --- O17 (bonus): deterministic stratified sampling ---------------------------

# o9 demonstrates engine-RNG sampling (rows-only by nature). This is
# the sampler you actually want on a 100 TB log: a Lehmer/MINSTD hash
# of the row key decides membership, so the sample is (a) exactly
# reproducible on any cluster layout, rerun, or engine, (b) per-row
# stateless — no shuffle, no RNG stream coordination across tasks,
# (c) expressible in ANSI SQL, which is what gives the SAMPLE family a
# full value-hash oracle. Per-stratum rates: rare strata kept at a
# higher rate (the class-imbalance pattern of training-data sampling).
O17_MINSTD_A = 48271
O17_MINSTD_M = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# returnflag -> basis points of rows kept
O17_RATES = {"A": 1000, "N": 200, "R": 500}

_O17_RATE_SQL = "CASE l_returnflag " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in O17_RATES.items()
) + " ELSE 0 END"

O17_ORACLE = f"""
WITH keyed AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS quantity,
         ((l_orderkey * 8 + l_linenumber) % {O17_MINSTD_M})
           * {O17_MINSTD_A} % {O17_MINSTD_M} AS u
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_returnflag, quantity, u
FROM keyed
WHERE u % 10000 < {_O17_RATE_SQL}
"""


@query("o17_stratified_sample", oracle=O17_ORACLE)
def o17_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified sample of lineitem: membership is
    ``minstd(row_key) % 10000 < rate_bp(stratum)`` with per-stratum
    rates (10% / 2% / 5% by return flag). The MINSTD step keeps every
    intermediate under 2^31 × 48271 ≈ 10^14, far inside BIGINT, so the
    arithmetic is exact and identical on any engine — unlike o9's
    engine-RNG Bernoulli sample, this one carries a full value oracle.

    Scale shape: a stateless per-row predicate on scan — no shuffle,
    no state, trivially parallel, and the same rows are selected no
    matter how the corpus is partitioned (the property that makes
    sampled pipelines debuggable and resumable at 100 TB).
    """
    li = load_table(spark, sf_dir, "lineitem")
    u = (
        F.pmod(F.col("l_orderkey") * 8 + F.col("l_linenumber"), F.lit(O17_MINSTD_M))
        * O17_MINSTD_A
    ) % O17_MINSTD_M
    rate = F.lit(0)
    for flag, bp in O17_RATES.items():
        rate = F.when(F.col("l_returnflag") == flag, F.lit(bp)).otherwise(rate)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.floor(F.col("l_quantity") + 0.5).cast("long").alias("quantity"),
            u.cast("long").alias("u"),
        )
        .filter(F.col("u") % 10000 < rate)
    )


def exact_ntile(df: DataFrame, n: int, order_cols: list[str]) -> DataFrame:
    """``__tile`` = ntile(n) over ``order_cols`` — bit-identical bucket
    membership to ``F.ntile(n).over(Window.orderBy(*order_cols))``
    WITHOUT that window's empty partitionBy collapsing the dataset
    into one task. The o16 recipe generalized: range-partition +
    partition-local sort, per-partition counts → prefix offsets
    (driver metadata), exact global rank = offset + local row_number,
    then ntile's bucket arithmetic (first N%n buckets take ⌈N/n⌉
    rows) on that rank. Two passes, every stage parallel. Used by the
    equi-depth histogram (a16)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n_parts = max(n, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n_parts, *order_cols)
    with_pid = parted.withColumn("pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    counts = sorted(with_pid.groupBy("pid").count().collect(), key=lambda r: r["pid"])
    offsets: dict[int, int] = {}
    total = 0
    for r in counts:
        offsets[r["pid"]] = total
        total += r["count"]
    offset_col = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("pid"),
    )
    w = Window.partitionBy("pid").orderBy(*order_cols)
    rank = offset_col + F.row_number().over(w)
    small = total // n
    n_big = total % n
    cut = n_big * (small + 1)
    tile = F.when(
        F.lit(n_big > 0) & (rank <= F.lit(cut)),
        F.floor((rank - 1) / F.lit(small + 1)),
    ).otherwise(
        F.lit(n_big) + F.floor((rank - F.lit(cut) - 1) / F.lit(max(small, 1)))
    )
    return with_pid.withColumn("__tile", tile.cast("int")).drop("pid")


def exact_ntile_grouped(
    df: DataFrame, n: int, group_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """``__tile`` = ntile(n) over (PARTITION BY group_cols ORDER BY
    order_cols) — ``exact_ntile`` generalized to grouped windows
    WITHOUT a one-task-per-group sort (fatal when a group is
    corpus-sized, e.g. a dominant language). Range-partition on
    (group_cols, order_cols) so every group spans contiguous
    partitions; per-(partition, group) counts collect to the driver
    (metadata-sized: n_partitions × n_groups rows — callers must keep
    group cardinality driver-bounded, which langs/sources/shards are),
    turn into per-group prefix offsets + totals, broadcast-join back,
    and ntile's bucket arithmetic runs per group with its own total.
    Bucket membership is bit-identical to the single-task window on
    both engines. Group values must be NON-NULL (the offset/total
    merge is an equi-join, which drops null keys); order_cols need a
    unique tiebreaker so ranking is boundary-independent."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n_parts = max(n, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n_parts, *group_cols, *order_cols)
    with_pid = parted.withColumn("pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    # driver-bounded (partitions × groups rows), so sorted on the driver:
    # by pid, which orders each group's rows for its running offsets
    counts = sorted(
        with_pid.groupBy("pid", *group_cols).count().collect(), key=lambda r: r["pid"]
    )
    if not counts:  # empty input: no offsets to build (schema-stable result)
        return with_pid.withColumn("__tile", F.lit(0).cast("int")).drop("pid")
    offset_rows = []
    running: dict[tuple, int] = {}
    for r in counts:
        g = tuple(r[c] for c in group_cols)
        offset_rows.append((r["pid"], *g, running.get(g, 0)))
        running[g] = running.get(g, 0) + r["count"]
    total_rows = [(*g, t) for g, t in running.items()]
    off_df = spark.createDataFrame(
        offset_rows, ["pid", *group_cols, "__off"]
    )
    tot_df = spark.createDataFrame(total_rows, [*group_cols, "__tot"])
    joined = with_pid.join(
        F.broadcast(off_df), ["pid", *group_cols]
    ).join(F.broadcast(tot_df), group_cols)
    w = Window.partitionBy("pid", *group_cols).orderBy(*order_cols)
    rank = F.col("__off") + F.row_number().over(w)
    small = F.floor(F.col("__tot") / n)
    n_big = F.col("__tot") % n
    cut = n_big * (small + 1)
    tile = F.when(
        (n_big > 0) & (rank <= cut), F.floor((rank - 1) / (small + 1))
    ).otherwise(n_big + F.floor((rank - cut - 1) / F.greatest(small, F.lit(1))))
    return (
        joined.withColumn("__tile", tile.cast("int"))
        .drop("pid", "__off", "__tot")
    )


# --- A16 (bonus, registered here beside its machinery): equi-depth histogram --

A16_BINS = 20


@query(
    "a16_equidepth_histogram",
    oracle=f"""
WITH binned AS (
  SELECT NTILE({A16_BINS}) OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS bin,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT bin, count(*) AS n_orders,
       min(cents) AS min_cents, max(cents) AS max_cents,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM binned GROUP BY bin
""",
)
def a16_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (quantile-bin) histogram of order totals: 20 bins of
    equal row count with exact per-bin stats — the feature-binning /
    data-profiling complement to a14's equi-width histogram.

    The oracle is the textbook single-task NTILE window; the engine
    computes the IDENTICAL bucket membership with ``exact_ntile`` —
    range-partition + prefix-offset rank + ntile arithmetic — so every
    stage is parallel (value-proven here by the cross-engine hash). Stats are fixed-point cents; ties split deterministically
    by o_orderkey on both sides."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    binned = exact_ntile(orders, A16_BINS, ["o_totalprice", "o_orderkey"])
    return (
        binned.groupBy(F.col("__tile").alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


# --- O18 (bonus): shuffle-skew profiler ---------------------------------------

@query(
    "o18_skew_profile",
    oracle="""
WITH k AS (
  SELECT l_orderkey AS key, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         CAST(sum(cnt) AS BIGINT) AS n_rows
  FROM k
),
h AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq FROM k GROUP BY cnt),
c AS (SELECT cnt, CAST(sum(freq) OVER (ORDER BY cnt) AS BIGINT) AS cum FROM h),
a AS (
  SELECT
    min(CASE WHEN cum >= (50*(n_keys-1))//100 + 1 THEN cnt END) AS lo50,
    min(CASE WHEN cum >= (50*(n_keys-1))//100 + 2 THEN cnt END) AS hi50,
    min(CASE WHEN cum >= (99*(n_keys-1))//100 + 1 THEN cnt END) AS lo99,
    min(CASE WHEN cum >= (99*(n_keys-1))//100 + 2 THEN cnt END) AS hi99
  FROM c, s
)
SELECT 'lineitem.l_orderkey' AS key_col,
       s.n_keys, s.max_cnt, s.n_rows,
       CAST(lo50*100 + ((50*(n_keys-1)) % 100) * (coalesce(hi50, lo50) - lo50)
            AS DOUBLE)/100 AS p50_cnt,
       CAST(lo99*100 + ((99*(n_keys-1)) % 100) * (coalesce(hi99, lo99) - lo99)
            AS DOUBLE)/100 AS p99_cnt,
       CAST((max_cnt*n_keys*20000 + n_rows)//(2*n_rows) AS DOUBLE)/10000
         AS skew_ratio
FROM a, s
""",
)
def o18_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew profiler: the distribution of per-key row
    counts for a prospective shuffle key — n_keys, max, p50/p99, and
    max/mean skew ratio (the number AQE's skew-join threshold and any
    manual salting decision is based on). Two-level aggregate: the
    per-key count collapses map-side (one shuffle on the key — exactly
    the shuffle being profiled, so cost ≈ the join it derisks), then a
    single-row stats pass over the key histogram. This is the
    operational tool you run BEFORE the 100 TB join, not after it
    spills.

    Percentiles follow the r5 advice: NEVER round independently
    interpolated doubles (Spark percentile vs DuckDB quantile_cont can
    differ by 1 ulp, and round() half-up vs half-even diverges ties).
    Per-key counts are integers, so the p=k/100 linear interpolation
    lo + (rem/100)*(hi-lo) is EXACT in 1/100 units — both engines
    compute the order statistics lo/hi from a cumulative count
    histogram and the same BIGINT arithmetic, then divide the
    identical integer by 100.0 (identical IEEE operands → identical
    double, no rounding step). skew_ratio likewise: half-up fixed-point
    at 4 decimals via (20000·max·keys + rows) div (2·rows) — exact
    rational rounding in BIGINTs. The count histogram has one row per
    distinct per-key count (single digits here), so the window/cross
    joins are driver-trivial at any scale."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(F.count("*").alias("cnt"))
    stats = k.agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    # tiny frame: one row per DISTINCT per-key count (≤ max lines/order)
    h = k.groupBy("cnt").agg(F.count("*").alias("freq"))
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = h.withColumn("cum", F.sum("freq").over(w))
    j = c.crossJoin(F.broadcast(stats))

    def _lo_hi(p_num: int) -> tuple:
        idx = F.expr(f"({p_num}*(n_keys-1)) div 100")
        lo = F.min(F.when(F.col("cum") >= idx + 1, F.col("cnt")))
        hi = F.min(F.when(F.col("cum") >= idx + 2, F.col("cnt")))
        return lo, hi

    lo50, hi50 = _lo_hi(50)
    lo99, hi99 = _lo_hi(99)
    agg = j.agg(
        F.max("n_keys").alias("n_keys"),
        F.max("max_cnt").alias("max_cnt"),
        F.max("n_rows").alias("n_rows"),
        lo50.alias("lo50"),
        hi50.alias("hi50"),
        lo99.alias("lo99"),
        hi99.alias("hi99"),
    )

    def _pcts(p_num: int, lo: str, hi: str):
        rem = F.expr(f"({p_num}*(n_keys-1)) % 100")
        c100 = F.col(lo) * 100 + rem * (F.coalesce(F.col(hi), F.col(lo)) - F.col(lo))
        return (c100 / F.lit(100.0)).alias(f"p{p_num}_cnt")

    return agg.select(
        F.lit("lineitem.l_orderkey").alias("key_col"),
        "n_keys",
        "max_cnt",
        "n_rows",
        _pcts(50, "lo50", "hi50"),
        _pcts(99, "lo99", "hi99"),
        (
            F.expr("(max_cnt*n_keys*20000 + n_rows) div (2*n_rows)") / F.lit(10000.0)
        ).alias("skew_ratio"),
    )
