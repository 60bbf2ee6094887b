"""Join operators (SURVEY.md §2.3 J1-J8; stream joins J9/J10 live in
streaming/).

Capability parity target: the archetype's enrichment step — join the
message stream against static dimension tables (SURVEY.md §0.3; the
reference snapshot itself is empty, /root/reference/.gitignore:1-2).

Scale notes, per operator:
- J1/J2: fact-fact equi joins shuffle on the join key; Catalyst picks
  sort-merge, AQE can demote to broadcast at runtime when one side's
  shuffle stats come out small, and splits skewed partitions.
- J3: dimension joins take an explicit ``broadcast()`` hint — nation /
  region / supplier are bounded regardless of data scale, so the fact
  side never shuffles (this is the difference between O(fact) and
  O(fact shuffle) at 100 TB).
- J4/J5: cross/theta joins are BroadcastNestedLoopJoin; only ever used
  with a bounded side.
- J8 (as-of): no native Spark primitive — expressed as a union +
  window ``last_value`` over event time, which shuffles each side once
  on the partition key (no range-explosion, no pandas fallback needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table


# --- J1: inner equi join (star-schema FK chain) ----------------------------

@query(
    "j1_inner_equi",
    oracle="""
SELECT
  c.c_mktsegment,
  o.o_orderpriority,
  count(*)                                            AS n_lines,
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c.c_mktsegment, o.o_orderpriority
""",
)
def j1_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer revenue rollup. The fact-fact leg
    (lineitem⋈orders) shuffles on the key (J1, sort-merge + AQE); the
    bounded customer dim is explicitly broadcast (J3) so the joined
    fact stream never re-shuffles for the enrichment."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


# --- J3: broadcast dimension join -------------------------------------------

@query(
    "j3_broadcast_dim",
    oracle="""
SELECT
  r.r_name AS region,
  n.n_name AS nation,
  count(*) AS n_cust,
  round(avg(c.c_acctbal), 4) AS avg_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
)
def j3_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly broadcast nation+region: the fact side never shuffles
    for the join (plan shows BroadcastHashJoin)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


# --- J2 combined: left + full outer (driver-slot query) --------------------------

@query(
    "j2_outer",
    oracle="""
SELECT 'left' AS mode, c.c_custkey AS key,
       count(o.o_orderkey) AS n,
       round(coalesce(sum(o.o_totalprice), 0), 2) AS val
FROM customer c
LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
GROUP BY c.c_custkey
UNION ALL
SELECT 'right' AS mode, c.c_custkey AS key,
       count(o.o_orderkey) AS n,
       round(coalesce(sum(o.o_totalprice), 0), 2) AS val
FROM orders o
RIGHT JOIN customer c
  ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'O'
GROUP BY c.c_custkey
UNION ALL
SELECT 'full' AS mode, coalesce(cn.nk, sn.nk) AS key,
       coalesce(cn.n_cust, 0) AS n,
       CAST(coalesce(sn.n_supp, 0) AS DOUBLE) AS val
FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey) cn
FULL OUTER JOIN
     (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) sn
  ON cn.nk = sn.nk
""",
)
def j2_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three outer-join flavors (J2) in one driver-slot query,
    tagged: a left join preserving customers with zero matching
    F-orders, a right join preserving customers on the build side
    (O-orders), and a full outer join of per-nation customer vs
    supplier counts preserving unmatched keys on either side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")

    left_df = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("val"),
        )
        .select(F.lit("left").alias("mode"), F.col("c_custkey").alias("key"), "n", "val")
    )
    right_df = (
        orders.join(
            cust,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "O"),
            "right",
        )
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("val"),
        )
        .select(F.lit("right").alias("mode"), F.col("c_custkey").alias("key"), "n", "val")
    )
    cn = cust.groupBy(F.col("c_nationkey").alias("cnk")).agg(F.count("*").alias("n_cust"))
    sn = supp.groupBy(F.col("s_nationkey").alias("snk")).agg(F.count("*").alias("n_supp"))
    full_df = cn.join(sn, cn.cnk == sn.snk, "full").select(
        F.lit("full").alias("mode"),
        F.coalesce("cnk", "snk").alias("key"),
        F.coalesce("n_cust", F.lit(0)).alias("n"),
        F.coalesce("n_supp", F.lit(0)).cast("double").alias("val"),
    )
    return left_df.unionByName(right_df).unionByName(full_df)


# --- J4+J5 combined: cross join + theta/range (driver-slot query) ----------------

@query(
    "j4_cross_range",
    oracle="""
SELECT 'cross' AS mode, r.r_name AS g, n.n_name AS g2, 1 AS n
FROM region r
CROSS JOIN nation n
UNION ALL
SELECT 'range' AS mode, o.o_orderpriority AS g, NULL AS g2, count(*) AS n
FROM lineitem l
JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY o.o_orderpriority
""",
)
def j4_cross_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 + J5 in one driver-slot query, tagged: an explicit Cartesian
    product of two bounded dims (BroadcastNestedLoopJoin — only ever
    sane with a bounded side), and an equi+range theta join where the
    range term is a post-join residual on the hash join, NOT a nested
    loop — the shape that survives fact-fact scale."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    cross_df = region.crossJoin(nation).select(
        F.lit("cross").alias("mode"),
        F.col("r_name").alias("g"),
        F.col("n_name").alias("g2"),
        F.lit(1).cast("long").alias("n"),
    )
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.date_add(orders.o_orderdate, 90)
    )
    range_df = (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("range").alias("mode"),
            F.col("o_orderpriority").alias("g"),
            F.lit(None).cast("string").alias("g2"),
            "n",
        )
    )
    return cross_df.unionByName(range_df)


# --- J6+J7 combined: semi + anti (driver-slot query) ------------------------------

@query(
    "j6_semi_anti",
    oracle="""
SELECT 'semi' AS mode, c_custkey AS key, c_name AS attr
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
UNION ALL
SELECT 'anti' AS mode, c_custkey AS key, c_mktsegment AS attr
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
)
""",
)
def j6_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS (left-semi, J6) and NOT EXISTS (left-anti, J7) in one
    driver-slot query, tagged: customers with at least one big order
    vs customers with no orders at all. Both sides are one shuffle on
    the key with early probe-side short-circuit."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000)
    semi = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        F.lit("semi").alias("mode"),
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("attr"),
    )
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        F.lit("anti").alias("mode"),
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("attr"),
    )
    return semi.unionByName(anti)


# --- J11: salted join for skewed keys -------------------------------------------

N_SALT = 8


@query(
    "j11_salted_skew_join",
    oracle="""
SELECT c.c_mktsegment,
       e.event_type,
       count(*) AS n,
       round(sum(e.value), 2) AS total
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
)
def j11_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join: the events fact side is heavily skewed on
    user_id (a small hot user population), so a plain shuffle join
    funnels hot keys into single tasks. Salting fans each fact row to
    one of N_SALT sub-keys (deterministic xxhash64 of the row id — no
    RNG, repeatable across retries) and replicates the dimension row
    once per salt, so every hot key spreads over N_SALT tasks. AQE's
    skew-join splitting handles moderate skew automatically; explicit
    salting is the portable answer when a single key exceeds what one
    task can hold. Semantics are exactly the plain join — which the
    oracle checks."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "__salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)).cast("int")
    )
    c = load_table(spark, sf_dir, "customer").withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALT)]))
    )
    return (
        e.join(c, (e.user_id == c.c_custkey) & (e.__salt == c.__salt))
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


# --- J8: as-of join -------------------------------------------------------------

ASOF_ORACLE = """
WITH purchases AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
), signups AS (
  SELECT user_id, ts FROM events WHERE event_type = 'signup'
)
SELECT
  p.user_id,
  date_trunc('second', p.ts)      AS purchase_ts,
  date_trunc('second', max(s.ts)) AS last_signup_ts,
  round(max(p.value), 4)          AS value
FROM purchases p
LEFT JOIN signups s
  ON s.user_id = p.user_id AND s.ts <= p.ts
GROUP BY p.user_id, p.ts
"""


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    build_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Generic as-of join: for each probe row, attach the nearest build
    row for the same ``on`` key — the latest with ``build_ts <=
    probe_ts`` (direction='backward', default) or the earliest with
    ``build_ts >= probe_ts`` (direction='forward').

    Implemented as union + event-time window (``last_value`` of the build
    attributes over rows up to the current one; the forward direction
    just reverses the window's time order), not as a range join: one
    shuffle on ``on``, no candidate-pair explosion — the shape that holds
    at 100 TB. Ties on equal timestamps: build rows sort before probe
    rows (a build row AT the probe timestamp is visible to it).
    """
    build_cols = build_cols or []
    side = F.col("__side")
    probe_tagged = probe.withColumn("__ts", F.col(probe_ts)).withColumn("__side", F.lit(1))
    build_tagged = build.select(
        F.col(on),
        F.col(build_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c) for c in build_cols],
    )
    unioned = probe_tagged.unionByName(build_tagged, allowMissingColumns=True)
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, side.asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last(F.when(side == 0, F.col("__ts")), ignorenulls=True).over(w).alias("__asof_ts"),
        *[
            F.last(F.when(side == 0, F.col(c)), ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in build_cols
        ],
    )
    return carried.filter(side == 1).drop("__side", "__ts", *build_cols)


@query("j8_asof", oracle=ASOF_ORACLE)
def j8_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join on the events table: each purchase gets the user's most
    recent signup at-or-before it (ns ts truncated to seconds for oracle
    parity, FIXTURES.md)."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    signups = events.filter(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(purchases, signups, on="user_id", probe_ts="ts", build_ts="ts")
    return joined.select(
        "user_id",
        F.date_trunc("second", "ts").alias("purchase_ts"),
        F.date_trunc("second", "__asof_ts").alias("last_signup_ts"),
        F.round("value", 4).alias("value"),
    )


# --- J12: star-schema join (multi-dim broadcast + Catalyst reorder) -----------


@query(
    "j12_star_join",
    oracle="""
SELECT n.n_name AS nation,
       count(*) AS n_orders,
       round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND o.o_orderstatus = 'O'
GROUP BY n.n_name
""",
)
def j12_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: one fact (orders) against a 3-deep dimension
    chain (customer→nation→region) with a selective dimension filter.
    The declared plan is dimension-order-agnostic — Catalyst reorders
    the joins and broadcasts every dimension side, so the fact table
    streams through three BroadcastHashJoins with zero fact-side
    shuffles before the final aggregation; the region filter prunes
    nations BEFORE any fact row is touched. At 100 TB that shape (one
    pass over the fact, all dims broadcast) is the only one that
    works. Revenue is summed in exact decimal so accumulation order
    cannot diverge from the oracle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


# --- J13: runtime bloom-filter join pruning -----------------------------------

BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j13 join/agg plan; call with BLOOM_CONFS applied."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_lines"),
        # decimal sum is exact on both engines; the final DOUBLE cast
        # aligns the pandas dtype with DuckDB's round()->DOUBLE (a
        # Decimal-object column stringifies with trailing zeros, the
        # f5-class driver-hash trap)
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


@query(
    "j13_bloom_filter_join",
    oracle="""
SELECT o.o_orderpriority AS priority, count(*) AS n_lines,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 400000
GROUP BY o.o_orderpriority
""",
)
def j13_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join behind a selective build-side filter, with
    Catalyst's runtime bloom-filter injection forced on: the optimizer
    plants a bloom filter built from the filtered orders keys as a
    semi-join predicate on the lineitem scan, so most probe rows die
    BEFORE the join shuffle. On a 100 TB fact join this is the
    difference between shuffling the full probe side and shuffling the
    ~1% that can match — the same effect dynamic partition pruning has
    for partitioned layouts, but for arbitrary key distributions. The
    filter is a pure optimization (might_contain false positives only
    re-admit rows the join itself rejects), so results — and the
    oracle — are unchanged. Broadcast is disabled for the run so the
    shuffle-join shape (where the bloom matters) is the one exercised;
    a plan test asserts the bloom actually landed.
    """
    prev = {k: spark.conf.get(k, None) for k in BLOOM_CONFS}
    for k, v in BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        out = bloom_join_frame(spark, sf_dir)
        # materialize under the forced-bloom confs; restoring them
        # afterwards must not re-plan this result. localCheckpoint keeps
        # the materialized partitions on the executors (no driver
        # round-trip — a .collect() here would be the anti-pattern at
        # 100 TB even though this aggregate is small).
        return out.localCheckpoint(eager=True)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- J15: interval-overlap join via time-bucket decomposition -----------------

@query(
    "j15_interval_overlap",
    oracle="""
WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase')
SELECT date_trunc('day', a.ts) AS day, count(*) AS n_overlapping_pairs
FROM p a JOIN p b
  ON a.event_id < b.event_id
 AND b.ts <= a.ts + INTERVAL 2 HOUR
 AND a.ts <= b.ts + INTERVAL 2 HOUR
GROUP BY day
""",
)
def j15_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join with NO equi key — pairs of
    purchases whose 2-hour windows [ts, ts+2h] overlap, counted per
    day. Catalyst can only plan a pure overlap predicate as a
    nested-loop join (O(n·m) — the 100 TB killer); the scalable
    rewrite decomposes each interval into its covered hour buckets,
    equi-joins on the bucket (hash-partitioned, shards like any join),
    re-checks the EXACT overlap as a residual (bucket collision is
    necessary but not sufficient), and dedups pairs that collide in
    several buckets. Bucket count per interval = interval/bucket + 1
    is the classic granularity trade-off: finer buckets → more
    replication, coarser → more false candidates; both stay linear,
    never all-pairs."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts")
    )
    b = ev.withColumn(
        "hb",
        F.explode(
            F.expr(
                "sequence(date_trunc('hour', ts),"
                " date_trunc('hour', ts + interval 2 hours),"
                " interval 1 hour)"
            )
        ),
    )
    a, c = b.alias("a"), b.alias("b")
    pairs = (
        a.join(
            c,
            (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .filter(
            (F.col("b.ts") <= F.col("a.ts") + F.expr("interval 2 hours"))
            & (F.col("a.ts") <= F.col("b.ts") + F.expr("interval 2 hours"))
        )
        .select(
            F.col("a.event_id").alias("id_a"),
            F.col("b.event_id").alias("id_b"),
            F.col("a.ts").alias("ts_a"),
        )
        .distinct()
    )
    return pairs.groupBy(F.date_trunc("day", "ts_a").alias("day")).agg(
        F.count("*").alias("n_overlapping_pairs")
    )


# --- J8b (bonus): forward as-of join with tolerance ---------------------------

J8B_TOL_US = 6 * 3600 * 1_000_000  # 6-hour match window


@query(
    "j8b_asof_forward_tolerance",
    oracle=f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, value, 1 AS side FROM events
  WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, NULL AS value, 0 AS side FROM events
  WHERE event_type = 'error'
),
seq AS (
  SELECT user_id, ts, event_id, value, side,
         min(CASE WHEN side = 0 THEN epoch_us(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts DESC, side ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS next_err_us
  FROM tagged
)
SELECT user_id, event_id,
       date_trunc('second', ts) AS purchase_ts,
       CASE WHEN next_err_us - epoch_us(ts) <= {J8B_TOL_US}
            THEN next_err_us - epoch_us(ts) END AS err_gap_us,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
FROM seq WHERE side = 1
""",
)
def j8b_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: each purchase gets the time to the
    user's NEXT error event, kept only when it lands within 6 hours —
    the ops-analytics "did this action precede an incident" probe, and
    the direction/tolerance half of the as-of family j8 doesn't cover.

    Same scale shape as j8: union + one window on (user_id, time),
    with the window order simply reversed for the forward direction —
    one shuffle, no range-join pair explosion, tolerance applied as a
    post-filter on the carried timestamp. Oracle replays the identical
    union + reversed-frame min in ANSI SQL; the gap is BIGINT µs and
    the money column is fixed-point cents (never raw doubles).
    """
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    errors = events.filter(F.col("event_type") == "error").select("user_id", "ts")
    joined = asof_join(
        purchases, errors, on="user_id", probe_ts="ts", build_ts="ts",
        direction="forward",
    )
    gap = F.unix_micros("__asof_ts") - F.unix_micros("ts")
    return joined.select(
        "user_id",
        "event_id",
        F.date_trunc("second", "ts").alias("purchase_ts"),
        F.when(gap <= J8B_TOL_US, gap).alias("err_gap_us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("value_cents"),
    )


# --- J17: LATERAL correlated subquery (per-outer-row top-k) -------------------

J17_SQL = """
SELECT b.brand, t.p_partkey AS part_key, t.cents
FROM (SELECT DISTINCT p_brand AS brand FROM part) b,
LATERAL (
  SELECT p_partkey, CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
  WHERE p_brand = b.brand
  ORDER BY cents DESC, p_partkey
  LIMIT 2
) t
"""


@query("j17_lateral_topk", oracle=J17_SQL)
def j17_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL:1999 lateral derived table,
    Spark 4 `LATERAL` join): for every brand, the subquery re-executes
    with the outer row in scope and returns that brand's top-2 parts
    by exact-cent price — the per-outer-row top-k idiom analysts write
    directly, completing the join family's SQL surface (J4's
    DataFrame-API theta joins, W4's window form, now the lateral
    form). The SQL text IS the oracle: DuckDB executes the identical
    statement, so this also pins that Spark's decorrelation preserves
    lateral semantics (ties, limits, ordering) bit-for-bit.

    Scale: Catalyst DECORRELATES the lateral into a window/rank over
    one part scan partitioned by brand — no per-outer-row re-execution
    survives planning, so cost is one shuffle on the correlation key
    regardless of outer cardinality (the same plan W4 gets), not
    |outer| subquery runs."""
    from sparkstreaming_mq_spark.tables import register_views

    register_views(spark, sf_dir, ("part",))
    return spark.sql(J17_SQL)


# --- J18: hybrid broadcast-hot / shuffle-cold skew join ----------------------

J18_HOT_MIN = 100_000   # fact rows per key before a key counts as hot
J18_DATE_LO = "1995-01-01 00:00:00"


@query(
    "j18_hybrid_skew_join",
    oracle=f"""
SELECT o.o_orderpriority,
       count(*) AS n_lines,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '{J18_DATE_LO}'
GROUP BY o.o_orderpriority
""",
)
def j18_hybrid_skew_join(
    spark: SparkSession,
    sf_dir: str,
    hot_min: int | None = None,
    key_profile: DataFrame | None = None,
) -> DataFrame:
    """Hybrid skew join: route HOT fact keys through a broadcast join
    and the cold remainder through the normal shuffle join — the
    third rung of the skew ladder measured in the r10 skew rung
    (broadcast > AQE split > salt): AQE's split needs the hot
    partition to cross a byte threshold post-compression, and J11's
    salt taxes EVERY row; the hybrid pays a bounded broadcast for
    exactly the keys that need it and leaves the cold path untouched.

    Mechanics: one map-side-combinable count pass finds keys with ≥
    ``hot_min`` fact rows — at most N/hot_min keys, a frame bounded
    small by construction (100k default → ≤ 10 hot keys per 1M-row
    key span). Since r11 (VERDICT r10 item 6) the count pass is
    SKIPPABLE: pass ``key_profile`` — a (key, cnt) per-key count
    frame, exactly o18_skew_profile's intermediate and the shape a
    maintained stats table serves — and the hot-key frame derives
    from the profile instead of a fact rescan, leaving the cold path
    with ONE lineitem scan (pytest pins the scan count). The
    registered no-argument form keeps the self-computed pass so the
    oracle and driver behavior are unchanged. The hot-key frame
    broadcasts
    three ways: a LEFT SEMI to carve the hot fact slice, a LEFT ANTI
    for the cold slice, and a LEFT SEMI on the dim to carve the ≤
    |hot keys| matching dim rows, which then BROADCAST-join the hot
    fact slice — hot rows never shuffle at all. Cold rows take the
    planner's normal join. The union feeds one aggregate; semantics
    are exactly the plain inner join, which is what the oracle runs.
    Fixture corpora are uniform (max ~7 lines/order), so the gate
    exercises the cold path + empty-hot degenerate; tests force
    ``hot_min`` low to oracle-check the split itself, and the r10
    skew dataset (one key = 20% of lineitem) is the measured hot-path
    evidence in BASELINE.md.
    """
    hot_min = J18_HOT_MIN if hot_min is None else hot_min
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(J18_DATE_LO).cast("timestamp")
    ).select("o_orderkey", "o_orderpriority")

    if key_profile is not None:
        # stats-table path: the profile already holds per-key counts
        # (o18's (key, cnt) frame) — no fact rescan at all
        hot = (
            key_profile.filter(F.col("cnt") >= hot_min)
            .select(F.col("key").alias("l_orderkey"))
        )
    else:
        hot = (
            li.groupBy("l_orderkey")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") >= hot_min)
            .select("l_orderkey")
            # the frame is bounded (≤ N/hot_min rows) but REFERENCED
            # THREE times (fact semi, fact anti, dim semi): without
            # lineage truncation each broadcast would re-run the fact
            # count-scan. localCheckpoint materializes it once (lazy —
            # first use pays the one job; the g1/l8 trade-off, here on
            # a tiny frame). Caveat (ADVICE r10): localCheckpoint
            # blocks live on executors — on a cluster that can LOSE
            # executors mid-query the three consumers would fail
            # rather than recompute; there, persist()+count() or a
            # reliable checkpoint (or the key_profile path above,
            # which removes the shared frame entirely) is the right
            # form. Acceptable in this single-JVM harness.
            .localCheckpoint(eager=False)
        )
    li_hot = li.join(F.broadcast(hot), "l_orderkey", "left_semi")
    li_cold = li.join(F.broadcast(hot), "l_orderkey", "left_anti")
    o_hot = o.join(
        F.broadcast(hot.withColumnRenamed("l_orderkey", "o_orderkey")),
        "o_orderkey",
        "left_semi",
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    hot_joined = li_hot.join(
        F.broadcast(o_hot), F.col("l_orderkey") == F.col("o_orderkey")
    ).select("o_orderpriority", cents.alias("__cents"))
    cold_joined = li_cold.join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    ).select("o_orderpriority", cents.alias("__cents"))
    return (
        hot_joined.unionByName(cold_joined)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("__cents").cast("long").alias("revenue_cents"),
        )
    )


# --- J20: binned pure-range join (no equality key) ---------------------------

J20_BIN_S = 3600  # = the ±1 h range span


@query(
    "j20_binned_range_join",
    oracle="""
SELECT e.event_id AS err_id,
       CAST(count(*) AS BIGINT) AS n_nearby
FROM events e JOIN events p
  ON e.event_type = 'error' AND p.event_type = 'purchase'
 AND p.ts >= e.ts - INTERVAL 1 HOUR
 AND p.ts <= e.ts + INTERVAL 1 HOUR
GROUP BY e.event_id
""",
)
def j20_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join — no equality key at all: purchases within ±1 h
    of each error event, corpus-wide (the temporal-proximity shape
    behind incident correlation). Spark's planner has no hash key to
    work with here, so the naive form is a BroadcastNestedLoopJoin —
    O(|errors|·|purchases|) comparisons and a broadcast that dies when
    neither side is dim-sized. t19's bucketing idea works in batch
    too and J5's equi+residual trick is the mechanism: bin event time
    at the range span (1 h), explode the PROBE side to {bin−1, bin,
    bin+1}, hash-join on bin EQUALITY, and keep the range test as a
    residual. |Δts| ≤ span ⇒ bin difference ∈ {−1, 0, +1}, and each
    qualifying pair matches at exactly ONE candidate bin (the
    neighbor's own), so no dedup is needed — semantics are exactly
    the nested-loop join's, which is what the oracle runs. Cost is
    O(pairs sharing a ±1 bin) — density-bounded, not |A|·|B| — and
    the join is an ordinary shuffled hash/SMJ that partitions on the
    TIME bin, so it scales out and a hot moment in time spreads no
    worse than the data itself. The plan pin (tests) asserts no
    BroadcastNestedLoopJoin/CartesianProduct survives.

    Bin arithmetic uses integer epoch seconds (unix_timestamp):
    boundaries sit on whole-second multiples of the span, so µs
    truncation never moves a row across a bin edge; the residual
    compares the full-precision timestamps."""
    ev = load_table(spark, sf_dir, "events")
    bin_of = lambda c: F.floor(F.unix_timestamp(F.col(c)) / J20_BIN_S)  # noqa: E731
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), F.col("ts").alias("e_ts"))
        .withColumn(
            "bin",
            F.explode(
                F.array(
                    bin_of("e_ts") - F.lit(1), bin_of("e_ts"), bin_of("e_ts") + F.lit(1)
                )
            ),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("ts").alias("p_ts"))
        .withColumn("bin", bin_of("p_ts"))
    )
    return (
        errors.join(
            purchases,
            (errors.bin == purchases.bin)
            & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("err_id")
        .agg(F.count("*").cast("long").alias("n_nearby"))
    )


# --- J21: nearest as-of join (bidirectional, with tolerance) ------------------

J21_TOL_US = 2 * 3600 * 1_000_000  # ±2 h, in microseconds


@query(
    "j21_nearest_asof",
    oracle=f"""
WITH u AS (
  SELECT user_id, ts, event_id, 1 AS side
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, NULL, 0 FROM events WHERE event_type = 'signup'
),
c AS (
  SELECT *,
    max(CASE WHEN side = 0 THEN ts END) OVER (
      PARTITION BY user_id ORDER BY ts, side
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
    min(CASE WHEN side = 0 THEN ts END) OVER (
      PARTITION BY user_id ORDER BY ts DESC, side
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fwd_ts
  FROM u
),
d AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - epoch_us(back_ts) AS db,
         epoch_us(fwd_ts) - epoch_us(ts) AS df,
         back_ts, fwd_ts
  FROM c WHERE side = 1
)
SELECT user_id,
       event_id,
       date_trunc('second', ts) AS purchase_ts,
       date_trunc('second',
         CASE WHEN db <= {J21_TOL_US} AND (df IS NULL OR df > {J21_TOL_US} OR db <= df)
              THEN back_ts
              WHEN df <= {J21_TOL_US} THEN fwd_ts END) AS nearest_signup_ts,
       CASE WHEN db <= {J21_TOL_US} AND (df IS NULL OR df > {J21_TOL_US} OR db <= df)
              THEN 'backward'
            WHEN df <= {J21_TOL_US} THEN 'forward' END AS direction,
       CAST(CASE WHEN db <= {J21_TOL_US} AND (df IS NULL OR df > {J21_TOL_US} OR db <= df)
              THEN db
            WHEN df <= {J21_TOL_US} THEN df END AS BIGINT) AS delta_us
FROM d
""",
)
def j21_nearest_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with tolerance: each purchase gets the
    user's closest signup in EITHER direction within ±2 h (ties →
    backward), or nulls when none qualifies — the third member of the
    as-of family (j8 backward, j8b forward+tolerance) and pandas
    merge_asof(direction='nearest')'s distributed equivalent.

    Both directions fuse into ONE union + TWO windows over the SAME
    hash partitioning (user_id): the backward carry is a running
    max(build ts) in event-time order, the forward carry a running
    min in reverse order — Spark reuses the single exchange and pays
    one extra partition-local sort, so the cost is j8's plus a sort:
    still no range join, no candidate-pair explosion, the shape that
    holds at 100 TB. Ties at equal timestamps: build sorts before
    probe in BOTH orders (side ascending), so a signup AT the
    purchase instant is visible to both carries and resolves as
    backward with delta 0. All deltas are exact integer MICROSECONDS
    (unix_micros / epoch_us — no float seconds, no truncation drift);
    null-vs-value CASE arms are identical on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("__side")
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("__side"),
    )
    u = p.unionByName(s)
    build_ts = F.when(F.col("__side") == 0, F.col("ts"))
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = u.select(
        "*",
        F.max(build_ts).over(w_back).alias("__back_ts"),
        F.min(build_ts).over(w_fwd).alias("__fwd_ts"),
    ).filter(F.col("__side") == 1)
    db = F.unix_micros("ts") - F.unix_micros("__back_ts")
    df_ = F.unix_micros("__fwd_ts") - F.unix_micros("ts")
    tol = F.lit(J21_TOL_US).cast("long")
    take_back = (db <= tol) & (df_.isNull() | (df_ > tol) | (db <= df_))
    take_fwd = df_ <= tol
    return c.select(
        "user_id",
        "event_id",
        F.date_trunc("second", "ts").alias("purchase_ts"),
        F.date_trunc(
            "second",
            F.when(take_back, F.col("__back_ts")).when(take_fwd, F.col("__fwd_ts")),
        ).alias("nearest_signup_ts"),
        F.when(take_back, F.lit("backward"))
        .when(take_fwd, F.lit("forward"))
        .alias("direction"),
        F.when(take_back, db).when(take_fwd, df_).cast("long").alias("delta_us"),
    )
