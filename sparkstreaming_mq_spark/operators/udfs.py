"""Python UDF surface (SURVEY.md §2.9 U1-U6; U3 lives in
aggregates.a10_udaf_geomean).

Each operator exercises one Python-extension mechanism on a real
pipeline, with the computation chosen to be SQL-mirrorable so the
DuckDB oracle can hash-check the full result — the UDF *machinery* is
Spark-side, the *semantics* are engine-portable.

Scale notes: everything here crosses the JVM↔Python boundary in Arrow
record batches (pandas UDF / mapInPandas / applyInPandas), never
row-at-a-time pickling except u1 — which exists precisely to cover the
plain-UDF API point and is Arrow-optimized in Spark 4
(spark.sql.execution.pythonUDF.arrow.enabled defaults on). The UDF
path is the engine's slow lane: the production operators in the other
modules stay JVM-native; these are the extension points for logic that
genuinely can't be expressed relationally.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.types import StringType

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table


# --- U2: vectorized (pandas) scalar UDF --------------------------------------

@query(
    "u2_pandas_udf",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
FROM lineitem
""",
)
def u2_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized Series→Series UDF: whole-column pandas math,
    ~10-100× the throughput of u1's per-row path. The raw double
    product is emitted unrounded: identical IEEE op order on both
    sides → bitwise-equal values (pandas .round would be half-to-even
    and any double→decimal narrowing differs between engines on
    below-ulp boundaries — both round-1-class parity traps)."""

    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )


# --- U1+U2 combined (driver-slot query) --------------------------------------

@query(
    "u1_python_udfs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       concat(upper(l_returnflag), ':', l_linestatus,
              ':', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR))  AS tag,
       l_extendedprice * (1 - l_discount) * (1 + l_tax)          AS charged
FROM lineitem
""",
)
def u1_python_udfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both scalar Python-UDF mechanisms (driver-slot query): a
    row-at-a-time UDF (U1, Arrow-optimized in Spark 4) building a tag
    string, and an Arrow-vectorized Series→Series pandas UDF (U2)
    computing the charge — emitted unrounded so identical IEEE op
    order gives bitwise-equal doubles on both engines."""

    @udf(returnType=StringType())
    def tag(flag: str, status: str, qty: float) -> str:
        return f"{flag.upper()}:{status}:{int(qty)}"

    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        tag("l_returnflag", "l_linestatus", "l_quantity").alias("tag"),
        charge("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )


# --- U4: grouped-map applyInPandas -------------------------------------------

@query(
    "u4_apply_in_pandas",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       round((o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_orderstatus))
             / stddev_samp(o_totalprice) OVER (PARTITION BY o_orderstatus), 4)
         + 0.0 AS z
FROM orders
""",
)
def u4_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group DataFrame→DataFrame transform: z-score normalization
    within each order status. Each group arrives as one pandas frame
    (the grouped-map UDTF-ish extension point); the SQL window mirror
    is the oracle. At scale: one shuffle on the group key, groups must
    fit in executor memory — the documented contract of this API."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["o_totalprice"].mean()
        sd = pdf["o_totalprice"].std(ddof=1)
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderstatus": pdf["o_orderstatus"],
                # raw doubles out of pandas (half-even vs SQL half-up
                # rounding is a parity trap); the JVM projection rounds.
                "z": (pdf["o_totalprice"] - mean) / sd,
            }
        )

    o = load_table(spark, sf_dir, "orders")
    # + 0.0 canonicalizes signed zero (IEEE: -0.0 + 0.0 = +0.0) on BOTH
    # sides: Spark's round() returns +0.0 for a tiny negative z while
    # DuckDB's preserves -0.0 — first bites at sf0.1, where 3 of 150k
    # orders sit within 5e-5 BELOW their group mean (r7 sf0.1 sweep).
    return o.groupBy("o_orderstatus").applyInPandas(
        zscore, "o_orderkey long, o_orderstatus string, z double"
    ).withColumn("z", F.round("z", 4) + F.lit(0.0))


# --- U5: mapInPandas ----------------------------------------------------------

@query(
    "u5_map_in_pandas",
    oracle="""
SELECT l_orderkey, l_linenumber, round(l_quantity * l_extendedprice, 2) AS qty_value
FROM lineitem
WHERE l_quantity > 45
""",
)
def u5_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-batch transform: an iterator of Arrow batches in,
    filtered/derived batches out — the streaming-friendly bulk
    extension point (same mechanism the multimodal decoder l5b uses)."""

    def flow(batches):
        for pdf in batches:
            keep = pdf[pdf["l_quantity"] > 45]
            yield pd.DataFrame(
                {
                    "l_orderkey": keep["l_orderkey"],
                    "l_linenumber": keep["l_linenumber"],
                    # raw doubles; JVM projection rounds (parity rule)
                    "qty_value": keep["l_quantity"] * keep["l_extendedprice"],
                }
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    return li.mapInPandas(
        flow, "l_orderkey long, l_linenumber int, qty_value double"
    ).withColumn("qty_value", F.round("qty_value", 2))


# --- U5b: mapInArrow ----------------------------------------------------------

@query(
    "u5b_map_in_arrow",
    oracle="""
SELECT l_orderkey, l_linenumber, round(l_quantity * l_extendedprice, 2) AS qty_value
FROM lineitem
WHERE l_quantity > 45
""",
)
def u5b_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5's zero-copy form: raw ``pyarrow.RecordBatch`` iterator in and
    out (``mapInArrow``) — skips even the Arrow→pandas conversion that
    mapInPandas pays; the right extension point when the Python logic
    is itself Arrow-native (tokenizers, media codecs). Same semantics
    as u5 so the same SQL oracle applies."""
    import pyarrow as pa

    def flow(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            import pyarrow.compute as pc

            mask = pc.greater(tbl["l_quantity"], pa.scalar(45.0))
            keep = tbl.filter(mask)
            out = pa.table(
                {
                    "l_orderkey": keep["l_orderkey"],
                    "l_linenumber": keep["l_linenumber"],
                    "qty_value": pc.multiply(keep["l_quantity"], keep["l_extendedprice"]),
                }
            )
            yield from out.to_batches()

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    return li.mapInArrow(
        flow, "l_orderkey long, l_linenumber int, qty_value double"
    ).withColumn("qty_value", F.round("qty_value", 2))


# --- U6: Python UDTF ----------------------------------------------------------

@query(
    "u6_udtf_tokenize",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
       unnest(string_split(text, ' ')) AS token
FROM documents
WHERE doc_id < 50
""",
)
def u6_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function: one document row in, one row
    per token out (with 1-based position) — the row-expanding extension
    point (SURVEY.md §2.9 U6), invoked through the canonical SQL
    LATERAL join."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="out_doc_id bigint, pos int, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" "), start=1):
                yield doc_id, i, tok

    spark.udtf.register("sg_tokenize", Tokenize)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("__u6_docs")
    return spark.sql(
        """
        SELECT t.out_doc_id AS doc_id, t.pos, t.token
        FROM __u6_docs, LATERAL sg_tokenize(doc_id, text) t
        """
    )


# --- U7: cogrouped-map applyInPandas -----------------------------------------

@query(
    "u7_cogroup_apply",
    oracle="""
WITH cg AS (
  SELECT c_nationkey AS k, count(*) AS n_cust, max(c_acctbal) AS max_cust_bal
  FROM customer GROUP BY c_nationkey
),
sg AS (
  SELECT s_nationkey AS k, count(*) AS n_supp, min(s_acctbal) AS min_supp_bal
  FROM supplier GROUP BY s_nationkey
)
SELECT coalesce(cg.k, sg.k) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp,
       max_cust_bal,
       min_supp_bal
FROM cg FULL OUTER JOIN sg ON cg.k = sg.k
""",
)
def u7_cogroup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map applyInPandas (the last pandas-API extension
    point: two tables grouped on the same key, each key's pair of
    pandas frames handed to one Python function — the escape hatch for
    per-key logic that needs BOTH sides at once, e.g. custom as-of
    matching or per-entity reconciliation). Semantics here are
    deliberately order-independent (counts, min/max — never a float
    sum, which pandas would accumulate in a different order than SQL)
    so the DuckDB full-outer-join oracle hash-checks the whole result.
    Scale: one shuffle per side on the cogroup key — the same cost as
    the equivalent join — and Arrow batches both sides."""
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = load_table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "nationkey": [int(key[0])],
                "n_cust": [len(left)],
                "n_supp": [len(right)],
                "max_cust_bal": [left["c_acctbal"].max() if len(left) else None],
                "min_supp_bal": [right["s_acctbal"].min() if len(right) else None],
            }
        )

    return (
        c.groupBy("c_nationkey")
        .cogroup(s.groupBy("s_nationkey"))
        .applyInPandas(
            merge,
            schema="nationkey long, n_cust long, n_supp long, "
            "max_cust_bal double, min_supp_bal double",
        )
    )


# --- U8: iterator-form pandas UDF (amortized per-partition init) -------------

@query(
    "u8_pandas_iter_udf",
    oracle="""
SELECT doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
         AS n_tokens,
       CAST(floor((length(text) - length(replace(text, ' ', '')) + 1)
                  * 1000000 / 4096) AS BIGINT) AS batch_cost_micro
FROM documents
""",
)
def u8_pandas_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (SCALAR_ITER): the extension-point
    shape for expensive per-worker initialization — a tokenizer, an ONNX
    session, a compiled regex bank — built ONCE per partition before the
    batch loop, then amortized across every Arrow batch. u2's plain
    Series→Series form re-enters Python per batch with no init hook;
    at 100 TB the iterator form is what makes model-scoring UDFs viable
    (init cost ÷ rows/partition instead of ÷ rows/batch).

    The "model" here is a deterministic token pricer (integer cost per
    token at a fixed 4096-token context) so the oracle can replay it:
    whitespace token count and floor-integer batch cost, both exact.
    """
    @pandas_udf("long")
    def n_tokens_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # expensive init would live here, once per partition:
        splitter = " "  # stands in for a loaded tokenizer
        for texts in batches:
            yield texts.str.count(splitter) + 1

    docs = load_table(spark, sf_dir, "documents")
    out = docs.select("doc_id", n_tokens_iter("text").alias("n_tokens"))
    return out.withColumn(
        "batch_cost_micro",
        F.floor(F.col("n_tokens") * F.lit(1_000_000) / F.lit(4096)).cast("long"),
    )


# --- U6b: Arrow-optimized Python UDTF ----------------------------------------

@query(
    "u6b_udtf_arrow",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
       unnest(string_split(text, ' ')) AS token
FROM documents
WHERE doc_id < 50
""",
)
def u6b_udtf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u6's tokenizer UDTF with ``useArrow=True`` (Spark 4): rows cross
    the Python boundary as Arrow batches instead of pickled rows — the
    same ~10-100x serialization win the pandas-UDF family gets, applied
    to the table-function extension point. Semantics (and oracle) are
    identical to u6 by construction; only the transport differs."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="out_doc_id bigint, pos int, token string", useArrow=True)
    class TokenizeArrow:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" "), start=1):
                yield doc_id, i, tok

    spark.udtf.register("sg_tokenize_arrow", TokenizeArrow)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("__u6b_docs")
    return spark.sql(
        """
        SELECT t.out_doc_id AS doc_id, t.pos, t.token
        FROM __u6b_docs, LATERAL sg_tokenize_arrow(doc_id, text) t
        """
    )


# --- U9: UDTF with TABLE argument (PARTITION BY / ORDER BY) -------------------

@query(
    "u9_udtf_table_arg",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS uts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         count(*)     OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchases,
       max(CASE WHEN rn = 1 THEN event_type END) AS first_event_type,
       max(CASE WHEN rn = n THEN event_type END) AS last_event_type,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ordered
GROUP BY user_id
""",
)
def u9_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF taking a TABLE argument with PARTITION BY / ORDER BY
    (Spark 4's polymorphic-table-function surface — the last UDTF entry
    point after u6's LATERAL scalar-args form and u6b's Arrow
    transport): the ENGINE hash-partitions the input on user_id, sorts
    each partition by (ts, event_id), streams the rows through eval()
    and calls terminate() at each partition boundary — exactly the
    applyInPandasWithState/applyInPandas contract, but reachable from
    pure SQL as ``FROM fn(TABLE(t) PARTITION BY k ORDER BY ...)``.

    The function is a per-user session summarizer whose first/last
    fields DEPEND on the engine-guaranteed sort order (the oracle
    recomputes them with rank windows), and whose numeric state is
    exact integers prepared IN SPARK before the Python boundary
    (unix_micros + floor(value*100+0.5) cents) so the Python loop does
    only integer accumulation — no float summation order to diverge.

    Scale note: per-row Python is the U1-class demonstration surface
    (the API under test, not a recommended hot path — mapInPandas/
    applyInPandas are the Arrow-batched forms); the plan is one hash
    exchange + sort, identical to the window twin's.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, n_events bigint, n_purchases bigint, "
        "first_event_type string, last_event_type string, sum_cents bigint"
    )
    class SessionSummary:
        def __init__(self) -> None:
            self._uid = None
            self._n = 0
            self._purch = 0
            self._first = None
            self._last = None
            self._cents = 0

        def eval(self, row):
            self._uid = row["user_id"]
            self._n += 1
            if row["event_type"] == "purchase":
                self._purch += 1
            if self._first is None:
                self._first = row["event_type"]
            self._last = row["event_type"]
            self._cents += row["cents"]

        def terminate(self):
            if self._uid is not None:
                yield (
                    self._uid,
                    self._n,
                    self._purch,
                    self._first,
                    self._last,
                    self._cents,
                )

    spark.udtf.register("sg_session_summary", SessionSummary)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("uts"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    ev.createOrReplaceTempView("__u9_events")
    return spark.sql(
        """
        SELECT * FROM sg_session_summary(
          TABLE(__u9_events) PARTITION BY user_id ORDER BY (uts, event_id)
        )
        """
    )
