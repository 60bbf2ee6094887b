"""Window functions (SURVEY.md §2.5 W1-W4).

Capability parity target: per-key sequence analytics over the message
stream — ranking, offsets, running aggregates (SURVEY.md §0.3; the
reference snapshot is empty, /root/reference/.gitignore:1-2).

Scale notes: every window below partitions by a business key, so the
physical plan is one hash exchange on the key + a partition-local sort
— the same shape as a groupBy, no global sort. Determinism: every
ORDER BY carries a unique tiebreak column (o_orderkey / l_linenumber),
otherwise rank/offset results are partition-order-dependent and the
oracle hash would flap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table


# --- W1: ranking functions ---------------------------------------------------

@query(
    "w1_ranking",
    oracle="""
SELECT
  o_orderkey,
  o_orderstatus,
  row_number()   OVER w AS rn,
  rank()         OVER w AS rnk,
  dense_rank()   OVER w AS drnk,
  ntile(4)       OVER w AS quartile,
  round(percent_rank() OVER w, 6) AS prank,
  round(cume_dist()    OVER w, 6) AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def w1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family over status partitions ordered by price."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


# --- W2: analytic / offset functions -----------------------------------------

@query(
    "w2_offsets",
    oracle="""
SELECT
  o_custkey,
  o_orderkey,
  round(o_totalprice, 2)                                    AS price,
  round(lag(o_totalprice)  OVER w, 2)                       AS prev_price,
  round(lead(o_totalprice) OVER w, 2)                       AS next_price,
  round(first_value(o_totalprice) OVER w2, 2)               AS first_price,
  round(last_value(o_totalprice)  OVER w2, 2)               AS last_price,
  round(nth_value(o_totalprice, 2) OVER w2, 2)              AS second_price
FROM orders
WINDOW
  w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def w2_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first/last/nth_value per customer order history."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.first("o_totalprice").over(w2), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w2), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w2), 2).alias("second_price"),
    )


# --- W1+W2 combined (driver-slot query) ---------------------------------------

@query(
    "w1_rank_offsets",
    oracle="""
SELECT
  o_orderkey,
  o_orderstatus,
  o_custkey,
  row_number()   OVER w AS rn,
  rank()         OVER w AS rnk,
  dense_rank()   OVER w AS drnk,
  ntile(4)       OVER w AS quartile,
  round(percent_rank() OVER w, 6) AS prank,
  round(lag(o_totalprice)  OVER w2, 2) AS prev_price,
  round(lead(o_totalprice) OVER w2, 2) AS next_price,
  round(first_value(o_totalprice) OVER w3, 2) AS first_price,
  round(nth_value(o_totalprice, 2) OVER w3, 2) AS second_price
FROM orders
WINDOW
  w  AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey),
  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def w1_rank_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family (W1: row_number/rank/dense_rank/ntile/
    percent_rank over status-by-price) and analytic/offset family
    (W2: lag/lead/first/nth over each customer's order history) in one
    driver-slot query — two window specs, each one hash exchange +
    partition-local sort, with unique tiebreaks pinning determinism."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = w2.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.lag("o_totalprice").over(w2), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w2), 2).alias("next_price"),
        F.round(F.first("o_totalprice").over(w3), 2).alias("first_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w3), 2).alias("second_price"),
    )


# --- W3+W4 combined (driver-slot query) ---------------------------------------

@query(
    "w3_frames_topk",
    oracle="""
SELECT o_custkey, o_orderkey, running_spend, ma3, rn
FROM (
  SELECT
    o_custkey,
    o_orderkey,
    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend,
    CAST(round(avg(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS DOUBLE)         AS ma3,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC)     AS rn
  FROM orders
)
WHERE rn <= 3
""",
)
def w3_frames_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed running aggregates (W3: running decimal sum + 3-row
    moving average) combined with rank-then-filter per-group top-k
    (W4: each customer's 3 most recent orders) in one driver-slot
    query — both window families share one hash exchange on the
    customer key. Decimal inside the window aggregate: windowed float
    sums accumulate in engine-specific order (DuckDB segment tree)."""
    o = load_table(spark, sf_dir, "orders")
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ma3 = seq.rowsBetween(-2, Window.currentRow)
    recency = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum(price_dec).over(running), 2).cast("double").alias("running_spend"),
            F.round(F.avg(price_dec).over(ma3), 3).cast("double").alias("ma3"),
            F.row_number().over(recency).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --- W4: per-group top-k ------------------------------------------------------

@query(
    "w4_topk_per_group",
    oracle="""
SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS price, rn
FROM (
  SELECT
    c.c_mktsegment,
    o.o_orderkey,
    o.o_totalprice,
    row_number() OVER (PARTITION BY c.c_mktsegment
                       ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
)
WHERE rn <= 5
""",
)
def w4_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders per market segment: rank-then-filter. At scale the
    window's hash exchange is the only shuffle; AQE handles skewed
    segments."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "rn",
        )
    )


# --- W5 (bonus): conditional-reset running aggregate -------------------------

@query(
    "w5_reset_running",
    oracle="""
WITH flagged AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS seg
  FROM events
)
SELECT event_id, user_id, seg,
       CAST(sum(CASE WHEN event_type = 'error' THEN 0 ELSE cents END) OVER (
         PARTITION BY user_id, seg ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS run_cents
FROM flagged
""",
)
def w5_reset_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total that RESETS on a condition — value accumulated per
    user since their last error (the gaps-and-islands / 'reset on
    event' idiom behind uptime counters, spend-since-incident, streak
    metrics).

    Two stacked windows over the SAME (user_id, ts, event_id)
    ordering: the first turns the reset events into segment ids via a
    cumulative flag count, the second runs the cumulative sum inside
    (user, segment). Catalyst evaluates both in ONE Window exchange —
    the partitioning of the second (user_id, seg) is a refinement of
    the first, so no extra shuffle materializes at any scale. The
    error row itself starts its segment at 0 (reset-inclusive); cents
    fixed-point keeps the running sums integer-exact cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        cents.alias("cents"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w_seg)
        .cast("long")
        .alias("seg"),
    )
    w_run = (
        Window.partitionBy("user_id", "seg")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "event_id",
        "user_id",
        "seg",
        F.sum(F.when(F.col("event_type") == "error", 0).otherwise(F.col("cents")))
        .over(w_run)
        .cast("long")
        .alias("run_cents"),
    )


# --- W6: two-phase (salted) per-group top-k for hot window partitions --------

W6_TOPK = 3
W6_SALTS = 32


@query(
    "w6_twophase_topk",
    oracle=f"""
SELECT event_type, event_id, round(value, 4) AS val, rn
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events
)
WHERE rn <= {W6_TOPK}
""",
)
def w6_twophase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k where the groups are FEW and HUGE — the window
    shape AQE cannot help with: `row_number() OVER (PARTITION BY
    event_type ...)` hash-partitions on event_type, so a group owning
    20% of the corpus serializes onto ONE task (skew-join splitting
    applies to joins, never to window exchanges — measured in the r10
    skew rung).

    The portable rewrite is two-phase top-k, the window analogue of
    J11's salting: phase 1 ranks within (group, salt) — 32 salt
    buckets spread a hot group over 32 tasks, and any global top-k
    row is necessarily in the top-k of its bucket — phase 2 re-ranks
    the ≤ 32·k bucket survivors per group, a frame bounded by
    |groups|·32·k rows regardless of corpus size. Salt is
    deterministic (xxhash64 of the unique id, no RNG — repeatable
    across task retries), the tie-break (value DESC, event_id) is
    total, so the result is bit-identical to the single-window form —
    which is exactly what the oracle runs. Cost: two window exchanges
    instead of one, but the second moves a bounded frame; wall-clock
    under a 20%-hot group is ~1/min(salts, cores) of the serialized
    form on the hot path.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    salted = ev.withColumn(
        "__salt", F.pmod(F.xxhash64("event_id"), F.lit(W6_SALTS)).cast("int")
    )
    w_local = Window.partitionBy("event_type", "__salt").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    survivors = (
        salted.withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= W6_TOPK)
        .drop("__salt", "__lrn")
    )
    w_global = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        survivors.withColumn("rn", F.row_number().over(w_global))
        .filter(F.col("rn") <= W6_TOPK)
        .select(
            "event_type",
            "event_id",
            F.round("value", 4).alias("val"),
            "rn",
        )
    )


# --- W7: time-interval RANGE frame — trailing-window aggregates per event ----

W7_TRAIL_S = 7 * 86_400  # 7-day trailing window, in epoch seconds


@query(
    "w7_trailing_range_frame",
    oracle=f"""
SELECT user_id,
       event_id,
       CAST(count(*) OVER trail AS BIGINT) AS n_7d,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER trail AS BIGINT)
         AS cents_7d
FROM events
WHERE event_type = 'purchase'
WINDOW trail AS (
  PARTITION BY user_id ORDER BY epoch(ts)
  RANGE BETWEEN {W7_TRAIL_S} PRECEDING AND CURRENT ROW
)
""",
)
def w7_trailing_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-interval RANGE frame: at every purchase, the user's
    trailing-7-day purchase count and spend — the per-EVENT rolling
    feature (fraud velocity checks, spend-rate features) that row
    frames cannot express (rows ≠ time) and that e4's per-DAY
    rolling-active grid doesn't cover (this is event-grain, gap-free
    by construction). W3 pinned the numeric range frame; this is the
    temporal one, ordered by epoch SECONDS so the frame bound is an
    exact integer on both engines (Spark rangeBetween has no calendar
    INTERVAL bound on a DataFrame window; epoch-seconds ordering is
    the portable, deterministic form — DuckDB's epoch(ts) is the
    identical integer). Ties (same user, same second) are fine: a
    RANGE frame includes the whole tie group symmetrically, no
    tiebreak needed. Money in exact fixed-point cents.

    Scale: one hash exchange on user_id + a partition-local sort —
    the same cost as any per-user window; the frame is evaluated by
    Spark's sliding window-frame cursor (two pointers over the sorted
    run, O(n) per partition, state = the open frame), never a
    per-row rescan.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    trail = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-W7_TRAIL_S, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(trail).cast("long").alias("n_7d"),
        F.sum(cents).over(trail).cast("long").alias("cents_7d"),
    )


# --- W8: winsorized mean (rank-exact percentile clipping) --------------------

W8_ORACLE = """
WITH ranked AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT),
                                     event_id) AS r,
         count(*)     OVER (PARTITION BY event_type) AS n
  FROM events
),
marked AS (
  SELECT event_type, cents, r, n,
         (n + 19) // 20      AS lo_rank,
         n + 1 - (n + 19) // 20 AS hi_rank
  FROM ranked
),
bounds AS (
  SELECT event_type,
         max(n)  AS n_events,
         max(CASE WHEN r = lo_rank THEN cents END) AS lo_cents,
         max(CASE WHEN r = hi_rank THEN cents END) AS hi_cents
  FROM marked GROUP BY event_type
)
SELECT m.event_type,
       CAST(b.n_events AS BIGINT) AS n_events,
       CAST(b.lo_cents AS BIGINT) AS lo_cents,
       CAST(b.hi_cents AS BIGINT) AS hi_cents,
       CAST(sum(least(greatest(m.cents, b.lo_cents), b.hi_cents)) AS BIGINT)
         AS winsorized_sum_cents,
       CAST(sum(least(greatest(m.cents, b.lo_cents), b.hi_cents))
            // b.n_events AS BIGINT) AS winsorized_mean_cents
FROM marked m JOIN bounds b ON b.event_type = m.event_type
GROUP BY m.event_type, b.n_events, b.lo_cents, b.hi_cents
"""


@query("w8_winsorized_mean", oracle=W8_ORACLE)
def w8_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized mean: clip each value to the group's exact
    [p5, p95] before averaging — the outlier-robust location estimate a
    metrics pipeline reports instead of a raw mean that one fat-finger
    event can drag (and the data-cleaning primitive an LLM-corpus
    quality pass applies to per-doc feature columns before thresholding
    on them). Percentiles are RANK-EXACT, not interpolated: the p5
    bound is the value at rank ceil(n/20) in (cents, event_id) order,
    p95 at the mirrored rank n+1-ceil(n/20) — value-at-rank arithmetic
    stays in BIGINT cents (floor(value*100+0.5) fixed point, the
    CLAUDE.md money rule), so there is no float percentile
    interpolation for the engines to disagree on, and ties are broken
    by event_id so both engines pick the same physical row.

    Scale: ONE hash exchange on event_type — the rank and count
    windows, the bound extraction (a conditional max per group) and
    the clipped sum all reuse that partitioning; the bounds frame is
    O(groups) and joins back broadcast-small. No sort beyond the
    per-partition window sort, no second fact scan.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select("event_type", "event_id", cents.alias("cents"))
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wfull = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("r"),
        F.count("*").over(wfull).alias("n"),
    ).withColumn("lo_rank", F.expr("(n + 19) div 20")).withColumn(
        "hi_rank", F.expr("n + 1 - (n + 19) div 20")
    )
    bounds = ranked.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.max(F.when(F.col("r") == F.col("lo_rank"), F.col("cents"))).alias("lo_cents"),
        F.max(F.when(F.col("r") == F.col("hi_rank"), F.col("cents"))).alias("hi_cents"),
    )
    clipped = ranked.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "n_events",
        "lo_cents",
        "hi_cents",
        F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents")).alias(
            "w_cents"
        ),
    )
    return clipped.groupBy("event_type", "n_events", "lo_cents", "hi_cents").agg(
        F.sum("w_cents").cast("long").alias("winsorized_sum_cents"),
        F.expr("CAST(sum(w_cents) div n_events AS BIGINT)").alias(
            "winsorized_mean_cents"
        ),
    ).select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("lo_cents").cast("long").alias("lo_cents"),
        F.col("hi_cents").cast("long").alias("hi_cents"),
        "winsorized_sum_cents",
        "winsorized_mean_cents",
    )


# --- W9: distribution ranks (percent_rank / cume_dist / ntile) ----------------

W9_ORACLE = """
WITH c AS (
  SELECT c_mktsegment, c_custkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
)
SELECT c_mktsegment, c_custkey, bal_cents,
       percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY bal_cents)
         AS pct_rank,
       cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY bal_cents)
         AS cume,
       CAST(ntile(10) OVER (
         PARTITION BY c_mktsegment ORDER BY bal_cents, c_custkey
       ) AS BIGINT) AS decile
FROM c
"""


@query("w9_distribution_ranks", oracle=W9_ORACLE)
def w9_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions — percent_rank, cume_dist
    and ntile — the distribution-rank surface the W1-W8 family doesn't
    touch (W1 covers rank/dense_rank/row_number; O16/A16 use ntile
    internally as machinery, never as the exposed result).

    Parity: percent_rank ((rank-1)/(N-1)) and cume_dist (peers≤x / N)
    are RANK-based, so ties need no break — both engines emit the same
    double from one IEEE division of exact integers (balance in
    fixed-point cents). ntile is ROW-position-based (remainder rows go
    to the leading tiles, SQL standard on both engines), so ITS order
    carries the unique c_custkey tiebreak. One c_mktsegment exchange
    serves all three window specs (same partitioning, compatible
    sorts)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("bal_cents")
    w2 = Window.partitionBy("c_mktsegment").orderBy("bal_cents", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "bal_cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w2).cast("long").alias("decile"),
    )
