"""Scalar function families (SURVEY.md §2.7 F1-F7).

Capability parity target: the archetype's payload-ETL expression layer
(SURVEY.md §0.3 step 2 — parse fields out of MQ messages, derive
columns; the reference snapshot itself is empty,
/root/reference/.gitignore:1-2). One representative oracle-checked
query per family.

Scale notes: every function here is a built-in Catalyst expression —
JVM-side, codegen'd into the enclosing WholeStageCodegen span, zero
Python boundary crossings. At 100 TB these queries are scan-bound;
the projections prune the parquet scan to the referenced columns.

Oracle-parity dialect notes (verified against DuckDB 1.0.0):
- Spark ``regexp_replace`` replaces ALL matches; DuckDB needs the 'g'
  flag to do the same.
- Spark ``sha2(x, 256)`` == DuckDB ``sha256(x)`` (hex output both).
- Spark ``get_json_object(c, '$.k')`` == DuckDB
  ``json_extract_string(c, '$.k')``.
- Spark ``aggregate``/``transform``/``filter`` (higher-order) == DuckDB
  ``list_aggregate``/``list_transform``/``list_filter``.
- Never emit DATE-typed or raw-ns columns (hash asymmetry): cast to
  TIMESTAMP / date_trunc on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table


# --- F1+F7 combined (driver-slot query) --------------------------------------

@query(
    "f1_string_hash",
    oracle="""
SELECT
  c_custkey,
  upper(c_mktsegment)                                   AS seg_uc,
  lower(c_name)                                         AS name_lc,
  substring(c_name, 1, 8)                               AS name_head,
  length(c_name)                                        AS name_len,
  concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
  replace(c_name, 'Customer#', 'C')                     AS name_short,
  lpad(CAST(c_custkey AS VARCHAR), 10, '0')             AS key_padded,
  instr(c_name, '#')                                    AS hash_pos,
  regexp_extract(c_name, '([0-9]+)', 1)                 AS key_digits,
  regexp_replace(c_name, '[0-9]', 'x', 'g')             AS name_masked,
  translate(c_mktsegment, 'AEIOU', 'aeiou')             AS seg_volc,
  md5(c_name)                                           AS h_md5,
  sha256(c_name)                                        AS h_sha256
FROM customer
""",
)
def f1_string_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (F1: case/substring/pad/concat/replace/regex/
    translate) plus the portable hash family (F7: md5 + sha2-256 hex)
    in one driver-slot projection — every column a codegen'd JVM
    expression, scan pruned to three input columns. Spark-specific
    hashes (xxhash64/crc32) are exercised by the MinHash/fingerprint
    operators in operators/llm.py."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_uc"),
        F.lower("c_name").alias("name_lc"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C")).alias("name_short"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("key_digits"),
        F.regexp_replace("c_name", "[0-9]", "x").alias("name_masked"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_volc"),
        F.md5("c_name").alias("h_md5"),
        F.sha2("c_name", 256).alias("h_sha256"),
    )


# --- F2+F3 combined (driver-slot query) --------------------------------------

@query(
    "f2_datetime_math",
    oracle="""
SELECT
  o_orderkey,
  year(o_orderdate)                                  AS yr,
  month(o_orderdate)                                 AS mo,
  date_trunc('month', o_orderdate)                   AS month_start,
  o_orderdate + INTERVAL 30 DAY                      AS due_ts,
  date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS days_left,
  strftime(o_orderdate, '%Y-%m')                     AS ym_label,
  round(abs(o_totalprice - 100000), 2)               AS price_dev,
  CAST(ceil(o_totalprice) AS BIGINT)                 AS price_ceil,
  CAST(floor(o_totalprice) AS BIGINT)                AS price_floor,
  round(sqrt(o_totalprice), 6)                       AS price_sqrt,
  round(ln(o_totalprice), 6)                         AS price_ln,
  round(log10(o_totalprice), 6)                      AS price_log10,
  CAST(sign(o_totalprice - 100000) AS BIGINT)        AS price_sign,
  mod(o_orderkey, 7)                                 AS key_mod7
FROM orders
""",
)
def f2_datetime_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family (F2: extract/trunc/interval/diff/format) plus
    math family (F3: abs/ceil/floor/sqrt/logs/sign/mod) in one
    driver-slot projection over orders — all codegen'd JVM
    expressions; trig and power functions stay in the standalone
    f3_math, and epoch seconds (unix_timestamp) recur in the
    event-analytics queries."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.datediff(F.lit("2002-01-01").cast("timestamp"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_left"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym_label"),
        F.round(F.abs(F.col("o_totalprice") - 100000), 2).alias("price_dev"),
        F.ceil("o_totalprice").cast("long").alias("price_ceil"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
        F.round(F.log("o_totalprice"), 6).alias("price_ln"),
        F.round(F.log10("o_totalprice"), 6).alias("price_log10"),
        F.signum(F.col("o_totalprice") - 100000).cast("long").alias("price_sign"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
    )


# --- F3: math functions -----------------------------------------------------

@query(
    "f3_math",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  round(abs(l_discount - 0.05), 4)          AS disc_dev,
  CAST(ceil(l_extendedprice) AS BIGINT)     AS price_ceil,
  CAST(floor(l_extendedprice) AS BIGINT)    AS price_floor,
  round(sqrt(l_quantity), 6)                AS qty_sqrt,
  round(pow(l_quantity, 2), 2)              AS qty_sq,
  round(ln(l_extendedprice), 6)             AS price_ln,
  round(log10(l_extendedprice), 6)          AS price_log10,
  CAST(sign(l_quantity - 25) AS BIGINT)     AS qty_sign,
  mod(l_orderkey, 7)                        AS key_mod7,
  round(sin(l_tax), 6)                      AS tax_sin,
  round(cos(l_tax), 6)                      AS tax_cos
FROM lineitem
""",
)
def f3_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: rounding, roots, powers, logs, trig, modulo."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.signum(F.col("l_quantity") - 25).cast("long").alias("qty_sign"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.round(F.sin("l_tax"), 6).alias("tax_sin"),
        F.round(F.cos("l_tax"), 6).alias("tax_cos"),
    )


# --- F4: JSON payload parsing (the archetype's core ETL step) ---------------

@query(
    "f4_json",
    oracle="""
SELECT
  CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
  count(*)                                                AS n,
  round(avg(value), 4)                                    AS avg_value,
  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY k_bucket
""",
)
def f4_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family on the MQ-payload column ``events.props``: both the
    path-extract (``get_json_object``) and the typed-schema
    (``from_json``) forms; the equality filter between them proves
    they agree on every row."""
    e = load_table(spark, sf_dir, "events")
    k_path = F.get_json_object("props", "$.k").cast("int")
    k_typed = F.from_json("props", "k INT").getField("k")
    return (
        e.withColumn("k", k_path)
        .filter(k_typed == F.col("k"))  # always true; exercises from_json
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "f4b_json_roundtrip",
    oracle="""
SELECT
  event_id,
  to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS INTEGER),
                      typ := event_type))                        AS enriched,
  json_extract_string(props, '$.k')                              AS k_str
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) < 10
""",
)
def f4b_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON write path: build a struct, serialize with to_json, and
    re-extract with json_tuple — the payload-enrichment round-trip a
    stream job performs before producing back to a queue (S8)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    enriched = F.to_json(F.struct(k.alias("k"), F.col("event_type").alias("typ")))
    out = e.filter(k < 10).select("event_id", enriched.alias("enriched"), "props")
    # json_tuple re-extracts from the original payload (UDTF-style generator)
    return out.select(
        "event_id", "enriched", F.json_tuple("props", "k").alias("k_str")
    )


# --- F5: array / higher-order functions -------------------------------------

@query(
    "f5_array",
    oracle="""
SELECT
  doc_id,
  len(string_split(text, ' '))                          AS n_tokens,
  len(list_distinct(string_split(text, ' ')))           AS n_uniq,
  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3,
  CAST(list_contains(string_split(text, ' '), 'data') AS INTEGER) AS has_data,
  list_aggregate(list_transform(string_split(text, ' '), x -> length(x)), 'max')
                                                        AS max_tok_len,
  CAST(list_aggregate(list_transform(string_split(text, ' '), x -> length(x)), 'sum')
       AS BIGINT)                                       AS sum_tok_len,
  len(list_filter(string_split(text, ' '), x -> length(x) > 4)) AS n_long
FROM documents
""",
)
def f5_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family incl. higher-order transform/filter/aggregate —
    all JVM-side lambda expressions (no Python)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lens = F.transform(toks, lambda x: F.length(x))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        # Stringified: the driver canonicalizer cannot sort array cells
        # (r02 fail — unhashable numpy.ndarray), so scalarize on both sides.
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias("first3"),
        # int, not boolean: the driver canonicalizer has only ever been
        # observed on str/num/timestamp cells (r02), so scalarize flags.
        F.array_contains(toks, "data").cast("int").alias("has_data"),
        F.array_max(lens).alias("max_tok_len"),
        # r03 driver fail: DuckDB list_aggregate(..., 'sum') returns DOUBLE
        # while F.aggregate over ints returns int — the driver hashes
        # stringified cells, so '126' != '126.0'. Pin BIGINT on both sides.
        F.aggregate(lens, F.lit(0), lambda acc, x: acc + x).cast("long").alias("sum_tok_len"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long"),
    )


@query(
    "f5b_explode",
    oracle="""
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
)
def f5b_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode() row-generation: token frequency across the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


# --- F6: map / struct functions ---------------------------------------------

@query(
    "f6_map_struct",
    oracle="""
SELECT
  c_custkey,
  round(c_acctbal, 2)   AS bal_from_struct,
  c_mktsegment          AS seg_from_struct,
  round(c_acctbal, 2)   AS bal_from_map,
  'bal,key'             AS map_key_list
FROM customer
""",
)
def f6_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build + field access, map build + element_at + map_keys.
    The oracle mirrors the *values* (struct/map machinery is
    Spark-side; the round-trip must be lossless)."""
    c = load_table(spark, sf_dir, "customer")
    st = F.struct(F.round("c_acctbal", 2).alias("bal"), F.col("c_mktsegment").alias("seg"))
    m = F.create_map(
        F.lit("bal"), F.round("c_acctbal", 2), F.lit("key"), F.col("c_custkey").cast("double")
    )
    return c.select(
        "c_custkey",
        st.getField("bal").alias("bal_from_struct"),
        st.getField("seg").alias("seg_from_struct"),
        F.element_at(m, "bal").alias("bal_from_map"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("map_key_list"),
    )


# --- F8: long-tail functions named in SURVEY §2.7 but not exercised above ----

@query(
    "f8_function_longtail",
    oracle="""
SELECT
  o_orderkey,
  array_to_string(list_transform(string_split(lower(o_orderpriority), ' '),
                                 w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ')
                                                         AS prio_initcap,
  CAST(regexp_matches(o_orderpriority, '^[0-9]-') AS INTEGER) AS prio_numbered,
  round(exp(o_totalprice / 500000.0), 6)                 AS price_exp,
  o_orderkey % 7                                         AS key_pmod7,
  CAST(to_timestamp(epoch(o_orderdate)) AS TIMESTAMP)    AS epoch_roundtrip,
  CAST(make_date(CAST(year(o_orderdate) AS INTEGER),
                 CAST(month(o_orderdate) AS INTEGER), 1) AS TIMESTAMP) AS month_floor,
  array_to_string(flatten([string_split(o_orderpriority, '-'), [o_orderstatus]]), ',')
                                                         AS flat_tokens
FROM orders
""",
)
def f8_function_longtail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining SURVEY §2.7-named scalar functions: initcap
    (DuckDB mirror emulates it — single-token input), rlike/
    regexp_like, exp, pmod (non-negative domain, where it matches
    the %% twin), epoch-seconds round-trip (unix_timestamp →
    timestamp_seconds), make_date, flatten. crc32 /
    monotonically_increasing_id have no portable twin
    (partition-dependent / engine-specific) and stay engine-internal;
    xxhash64 is exercised throughout operators/llm.py."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.initcap(F.lower("o_orderpriority")).alias("prio_initcap"),
        F.col("o_orderpriority").rlike("^[0-9]-").cast("int").alias("prio_numbered"),
        F.round(F.exp(F.col("o_totalprice") / 500000.0), 6).alias("price_exp"),
        F.pmod("o_orderkey", F.lit(7)).cast("long").alias("key_pmod7"),
        F.timestamp_seconds(F.unix_timestamp("o_orderdate")).alias("epoch_roundtrip"),
        F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1))
        .cast("timestamp")
        .alias("month_floor"),
        F.array_join(
            F.flatten(F.array(F.split("o_orderpriority", "-"), F.array("o_orderstatus"))),
            ",",
        ).alias("flat_tokens"),
    )


@query(
    "f8b_explode_outer",
    oracle="""
SELECT doc_id, long_tok
FROM (
  SELECT doc_id,
         unnest(CASE WHEN len(list_filter(string_split(text, ' '), x -> length(x) > 7)) = 0
                     THEN [NULL]
                     ELSE list_filter(string_split(text, ' '), x -> length(x) > 7)
                END) AS long_tok
  FROM documents
)
""",
)
def f8b_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` row generation: docs with no >7-char token
    still produce one NULL row (plain explode would drop them) — the
    outer-unnest semantics the F5 row names. DuckDB mirrors it by
    substituting [NULL] for empty lists before unnest."""
    d = load_table(spark, sf_dir, "documents")
    long_toks = F.filter(F.split("text", " "), lambda x: F.length(x) > 7)
    return d.select("doc_id", F.explode_outer(long_toks).alias("long_tok"))


# --- F8: VariantType semi-structured payloads (Spark 4) -----------------------

@query(
    "f8_variant",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 10
GROUP BY event_type
""",
)
def f8_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType over the MQ payload: ``parse_json`` turns
    the opaque JSON string into the binary Variant encoding ONCE at
    ingest, and every downstream ``variant_get`` path access is a
    direct binary probe — no re-parse per expression, the engine-native
    answer to schema-on-read payloads whose shape drifts too fast to
    declare a StructType. The filter and aggregate run on extracted
    typed values, so the plan stays whole-stage codegen after the
    single parse.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
    )
    return (
        v.filter(F.col("k") > 10)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# --- F9: recursive CTE (engine-native iteration) ------------------------------

F9_SPARK_SQL = """
WITH RECURSIVE r AS (
  SELECT c_custkey, c_acctbal, 0 AS depth FROM customer WHERE c_custkey = 1
  UNION ALL
  SELECT c.c_custkey, c.c_acctbal, r.depth + 1
  FROM customer c JOIN r ON c.c_custkey DIV 2 = r.c_custkey
  WHERE c.c_custkey >= 2
)
SELECT depth, count(*) AS n,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_bal
FROM r GROUP BY depth
"""


@query(
    "f9_recursive_cte",
    oracle="""
WITH RECURSIVE r AS (
  SELECT c_custkey, c_acctbal, 0 AS depth FROM customer WHERE c_custkey = 1
  UNION ALL
  SELECT c.c_custkey, c.c_acctbal, r.depth + 1
  FROM customer c JOIN r ON c.c_custkey // 2 = r.c_custkey
  WHERE c.c_custkey >= 2
)
SELECT depth, count(*) AS n,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_bal
FROM r GROUP BY depth
""",
)
def f9_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): reachability over the implicit binary
    tree parent(k) = k div 2 rooted at customer 1, aggregated per
    depth — ENGINE-NATIVE iteration, the declarative alternative to
    the driver-side loop l8's connected components uses (each step is
    one equi join; the engine owns the fixpoint). DuckDB runs the
    same recursion, so the oracle checks both the traversal and the
    per-level aggregate exactly (balances decimal-cast inside the
    sum, per the parity rules)."""
    from sparkstreaming_mq_spark.tables import register_views

    register_views(spark, sf_dir, ("customer",))
    return spark.sql(F9_SPARK_SQL)


# --- F10: SQL-defined scalar function (UDF without leaving codegen) -----------

@query(
    "f10_sql_udf",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))) AS BIGINT)
         AS total_charge_u
FROM lineitem
GROUP BY l_returnflag
""",
)
def f10_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (CREATE FUNCTION ... RETURN expr,
    Spark 4): the `charge` business rule is declared ONCE as a catalog
    function and inlined by Catalyst into whole-stage codegen — reuse
    like a UDF, cost of a built-in expression (no Python boundary, no
    Arrow transfer; contrast u1, the API-coverage Python UDF). The
    function quantizes to fixed-point (integer cents / percent) and
    returns micro-dollar units, so the grouped sum is exact BIGINT
    arithmetic — no float reduction anywhere, no rounding-mode parity
    trap (the DECIMAL-cast variant of this query was measured one
    cent off: Spark HALF_UP vs DuckDB HALF_EVEN per-row casts). The
    oracle inlines the identical expression."""
    from sparkstreaming_mq_spark.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sg_charge_u("
        "price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS BIGINT "
        "RETURN CAST(floor(price * 100 + 0.5) AS BIGINT)"
        " * (100 - CAST(floor(disc * 100 + 0.5) AS BIGINT))"
        " * (100 + CAST(floor(tax * 100 + 0.5) AS BIGINT))"
    )
    return spark.sql(
        """
SELECT l_returnflag,
       count(*) AS n,
       sum(sg_charge_u(l_extendedprice, l_discount, l_tax)) AS total_charge_u
FROM lineitem
GROUP BY l_returnflag
"""
    )


# --- F11 (bonus): blocked fuzzy matching (entity resolution kernel) ----------

F11_MAX_LEV = 3


@query(
    "f11_fuzzy_match",
    oracle=f"""
WITH names AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts,
         (string_split(p_name, ' '))[-1] AS blk
  FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {F11_MAX_LEV}
""",
)
def f11_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution kernel: fuzzy-match near-identical names with
    the blocking pattern that makes pairwise edit distance viable at
    scale — never all-pairs.

    Shape: collapse the fact table to its NAME DICTIONARY first (64
    distinct names here; name vocabularies grow sublinearly in row
    count, which is the assumption every production ER blocker makes),
    block on the LAST name token (for TPC-H color-word names the
    trailing color is the highest-cardinality stable token — a real
    deployment would pick its own blocking key the same way), and run
    levenshtein only within blocks —
    candidate pairs are O(Σ block²) over a bounded dictionary, and the
    edit distance itself is JVM codegen (`levenshtein`), not Python.
    Each matched name pair carries its fact-side row counts, the
    hook for a downstream canonical-key MERGE. At 100 TB the dictionary
    build is the only corpus-wide stage (one hash aggregate); the
    matching cost does not grow with the fact table at all.
    """
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").cast("long").alias("n_parts")
    ).withColumn("blk", F.substring_index("name", " ", -1))
    a = names.select(
        F.col("name").alias("name_a"), F.col("n_parts").alias("n_parts_a"), "blk"
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n_parts").alias("n_parts_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("lev_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("lev_dist") <= F11_MAX_LEV)
        .select("name_a", "name_b", "lev_dist", "n_parts_a", "n_parts_b")
    )


# --- F13: SQL scripting (Spark 4 BEGIN/END procedural blocks) ------------------

F13_SCRIPT = """
BEGIN
  DECLARE y INT DEFAULT 1995;
  DECLARE total BIGINT DEFAULT 0;
  DECLARE n_years BIGINT DEFAULT 0;
  WHILE y <= 2001 DO
    SET total = total + (SELECT COALESCE(CAST(sum(CAST(floor(o_totalprice * 100
                           + 0.5) AS BIGINT)) AS BIGINT), 0)
                         FROM orders WHERE year(o_orderdate) = y);
    -- count only years that HAVE rows, so the script states the same
    -- invariant as the oracle's count(DISTINCT year) regardless of
    -- which years a fixture generation happens to cover (ADVICE r7)
    SET n_years = n_years + (SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END
                             FROM orders WHERE year(o_orderdate) = y);
    SET y = y + 1;
  END WHILE;
  SELECT n_years AS n_years, CAST(total AS BIGINT) AS total_cents;
END
"""


@query(
    "f13_sql_scripting",
    oracle="""
SELECT CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_years,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE year(o_orderdate) BETWEEN 1995 AND 2001
""",
)
def f13_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 SQL/PSM blocks): DECLARE session
    variables, a WHILE loop, and per-iteration scalar-subquery SETs,
    returning the script's final result set — the procedural control-
    flow surface (ETL runbooks, backfill loops) exercised end-to-end.
    The loop accumulates seven per-year exact-cent totals into a
    BIGINT variable; the oracle proves the scripted accumulation
    equals the one-pass declarative aggregate. (Deliberately a
    CONTROL-FLOW demonstrator: one scan per iteration is the cost of
    procedural style, and the oracle's single-scan form is the plan
    you'd write when the loop isn't needed — both statements of the
    same fact.)"""
    from sparkstreaming_mq_spark.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(F13_SCRIPT)


# --- F14: string collations (Spark 4 COLLATE) ----------------------------------


@query(
    "f14_collation",
    oracle="""
SELECT lower(p_type) AS part_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM part
GROUP BY lower(p_type)
""",
)
def f14_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4.0 ``COLLATE UTF8_LCASE``):
    case-noised part types (alternate rows upper/lower) group under a
    case-insensitive collation WITHOUT any normalizing rewrite — the
    aggregation itself is collation-aware, the way a warehouse handles
    mixed-case feeds. The oracle states the semantic contract:
    collated grouping == grouping by lower(). The output key is cast
    back to a plain (UTF8_BINARY) string so the result schema carries
    no collation."""
    from sparkstreaming_mq_spark.tables import register_views

    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        """
        WITH noisy AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                      ELSE lower(p_type) END COLLATE UTF8_LCASE AS t,
                 p_retailprice
          FROM part)
        SELECT CAST(lower(t) AS STRING) AS part_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM noisy GROUP BY t
        """
    )


# --- F15: parameterized SQL (named args + IDENTIFIER binding) ------------------

F15_MIN_SIZE = 25
F15_TOPK = 10


@query(
    "f15_parameterized_sql",
    oracle=f"""
SELECT p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM part
WHERE p_size >= {F15_MIN_SIZE}
GROUP BY p_brand
ORDER BY cents DESC, brand
LIMIT {F15_TOPK}
""",
)
def f15_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-parameter markers): the query
    text carries ``:tbl``/``:min_size``/``:k`` placeholders — the
    table name bound through ``IDENTIFIER(:tbl)`` (safe dynamic object
    references, the injection-proof form of string-built SQL) and the
    values through ``args`` — exactly how a serving layer templates
    per-tenant report queries. Catalyst substitutes parameters BEFORE
    optimization, so the size predicate still reaches the parquet scan
    as a pushed filter and the top-k still fuses; the oracle is the
    same report with the parameters inlined as literals, proving
    binding changes nothing semantically."""
    from sparkstreaming_mq_spark.tables import register_views

    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        """
        SELECT p_brand AS brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM IDENTIFIER(:tbl)
        WHERE p_size >= :min_size
        GROUP BY p_brand
        ORDER BY cents DESC, brand
        LIMIT :k
        """,
        args={"tbl": "part", "min_size": F15_MIN_SIZE, "k": F15_TOPK},
    )


# --- F16: SQL pipe syntax (Spark 4 |> operator chains) -------------------------

F16_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY priority
ORDER BY priority
"""


@query("f16_sql_pipe_syntax", oracle=F16_ORACLE)
def f16_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 GA, SQL:2023-style ``|>`` chains): the
    same report expressed as a linear FROM→WHERE→EXTEND→AGGREGATE→
    ORDER BY pipeline — the query-authoring surface dataflow users
    expect from an engine, covered here so the SQL-text API parity is
    tested, not assumed. Pipe stages lower to the SAME logical plan as
    the classic form (the pushed status filter and the two-phase
    aggregate are unchanged — Catalyst sees no difference), which is
    exactly what the classic-SQL DuckDB oracle verifies. Money in
    exact fixed-point cents (module recipe)."""
    from sparkstreaming_mq_spark.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> EXTEND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS _cents
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(_cents) AS BIGINT) AS cents
           GROUP BY o_orderpriority AS priority
        |> ORDER BY priority
        """
    )


# --- F17: ANSI error-tolerant expressions (try_* family) ----------------------

F17_BIG = 9_000_000_000_000_000   # overflow iff |cents| > 1024 under BIGINT

F17_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
x AS (
  SELECT event_type,
         CASE WHEN k = 0 THEN NULL
              ELSE CAST(floor(cents / k) AS BIGINT) END AS safe_div,
         CASE WHEN abs(cents) > 1024 THEN NULL
              ELSE cents * {F17_BIG} END AS safe_mul,
         TRY_CAST(CASE WHEN k < 50 THEN CAST(k AS VARCHAR)
                       ELSE event_type END AS BIGINT) AS parsed
  FROM base
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) - count(safe_div) AS BIGINT) AS n_div_null,
       CAST(coalesce(sum(safe_div), 0) AS BIGINT) AS sum_safe_div,
       CAST(count(*) - count(safe_mul) AS BIGINT) AS n_overflow_null,
       CAST(count(*) - count(parsed) AS BIGINT) AS n_parse_null,
       CAST(coalesce(sum(parsed), 0) AS BIGINT) AS sum_parsed
FROM x
GROUP BY event_type
"""


@query("f17_try_arithmetic", oracle=F17_ORACLE)
def f17_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-TOLERANT expression surface: ``try_divide`` /
    ``try_multiply`` / ``try_cast`` — Spark 4 runs ANSI mode by
    default, so raw division-by-zero, numeric overflow, and bad casts
    ABORT the job; the try_* forms return NULL instead, which is the
    contract dirty-payload ETL needs (s15 routes whole bad records;
    this is the expression-level sibling that salvages the rest of
    the row). Every branch is NON-vacuous on the fixture: k = 0 rows
    exist (division), |cents| spans the 1024 boundary of the
    {F17_BIG} multiplier (BIGINT overflow), and the mixed column
    parses iff k < 50 (cast).

    The oracle replays the semantics with explicit CASE guards —
    DuckDB 1.0 has TRY_CAST but not try_divide/try_multiply, and the
    guard form IS the documented semantics (NULL exactly where ANSI
    would raise), so the hash contract pins Spark's try_* behavior
    against an independent derivation, all in exact integers (the
    division is floored to BIGINT before summing).

    Scale: pure codegen projections + one map-side-combinable
    aggregate — scan-bound at any size.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    x = ev.select(
        "event_type",
        F.expr("CAST(floor(try_divide(cents, k)) AS BIGINT)").alias("safe_div"),
        F.expr(f"try_multiply(cents, {F17_BIG}L)").alias("safe_mul"),
        F.expr(
            "try_cast(CASE WHEN k < 50 THEN CAST(k AS STRING)"
            " ELSE event_type END AS BIGINT)"
        ).alias("parsed"),
    )
    return x.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        (F.count("*") - F.count("safe_div")).cast("long").alias("n_div_null"),
        F.coalesce(F.sum("safe_div"), F.lit(0)).cast("long").alias("sum_safe_div"),
        (F.count("*") - F.count("safe_mul")).cast("long").alias("n_overflow_null"),
        (F.count("*") - F.count("parsed")).cast("long").alias("n_parse_null"),
        F.coalesce(F.sum("parsed"), F.lit(0)).cast("long").alias("sum_parsed"),
    )


# --- F18: binary encode/decode surface (base64 / hex / byte lengths) ----------

F18_ORACLE = """
SELECT doc_id,
       base64(encode(substring(text, 1, 120))) AS b64_head,
       hex(substring(text, 1, 16)) AS hex_head,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(substring(text, 1, 120) =
            decode(from_base64(base64(encode(substring(text, 1, 120)))))
            AS INTEGER) AS roundtrip_ok
FROM documents
"""


@query("f18_binary_encoding", oracle=F18_ORACLE)
def f18_binary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode/decode functions — base64/unbase64, hex,
    encode/decode, octet_length — the F-family leaf the string/hash
    rows don't touch (payload fingerprinting, wire-format debugging,
    opaque-column previews for the L5 multimodal path).

    Cross-engine quirk, measured: Spark's ``base64`` is the MIME
    encoder (CRLF every 76 chars) while DuckDB emits one continuous
    string — the CRLFs are stripped so both engines compare the same
    canonical form (``unbase64`` is lenient either way; the roundtrip
    flag proves decode∘encode = id on every row). Encoding runs over
    a bounded HEAD (120 chars → 160 base64 chars), not the whole
    document: at 100 TB you index/preview with bounded-size encodings
    rather than materializing a 1.33× copy of the corpus; byte length
    covers the full text (char count ≠ UTF-8 byte count — multibyte
    rows make the distinction non-vacuous). All JVM-side codegen."""
    d = load_table(spark, sf_dir, "documents")
    head = F.substring("text", 1, 120)
    b64 = F.regexp_replace(
        F.base64(F.encode(head, "UTF-8")), "\r\n", ""
    )
    return d.select(
        "doc_id",
        b64.alias("b64_head"),
        F.hex(F.substring("text", 1, 16)).alias("hex_head"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        (F.decode(F.unbase64(b64), "UTF-8") == head)
        .cast("int")
        .alias("roundtrip_ok"),
    )
