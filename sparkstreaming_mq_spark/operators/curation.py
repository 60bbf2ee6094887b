"""Corpus-curation operators beyond the SURVEY §2 inventory (L10-L19).

The operations a large-scale training-data pipeline runs between raw
ingest and the dedup/quality stages the engine already ships
(operators/llm.py): benchmark decontamination, repetition filtering,
PII/blocklist scrubbing, context-window chunking, and reproducible
hash-based sampling. The reference snapshot has no implementation to
cite (/root/reference/.gitignore:1-2 is the whole repo); semantics
follow the public data-curation literature (n-gram-overlap
decontamination and repetition gates as described in the GPT-3 /
Gopher appendices, salt-free hash sampling as in every map-reduce-era
pipeline).

Scale design (100 TB bar):
- Decontamination: the eval set is bounded by construction, so its
  shingle set is a broadcast semi-join side — the corpus is touched
  once, shuffled once (per-doc hit count agg on doc_id).
- Repetition / scrub / chunking: per-row higher-order JVM expressions
  (narrow, scan-bound, whole-stage codegen); chunking's only growth is
  the deliberate explode to ~n_tokens/CHUNK_TOKENS rows.
- Hash sample: stateless per-row digest predicate — reproducible
  across runs/clusters with zero coordination, prunable at the scan.

Every operator carries an exact DuckDB oracle; every float ratio is
rounded JVM-side; no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.operators.llm import _STOP_SQL, STOPWORDS
from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table

# --- L10: benchmark decontamination ------------------------------------------

DECON_NGRAM = 4     # word-shingle width for overlap matching
BENCH_MOD = 97      # doc_id % BENCH_MOD == 0 -> held-out "benchmark" doc


def _shingle_postings(df: DataFrame, n: int, *key_cols: str) -> DataFrame:
    """(key_cols..., ng): one row per INPUT ROW × distinct n-token
    shingle of its ``text``, space-joined; none emitted when the doc is
    shorter than n. NOTE the dedup grain: per input row, NOT per key —
    when key_cols are not row-unique (l33 passes 'source'), two rows of
    the same key sharing a shingle emit duplicate (key, ng) postings,
    and consumers must dedup themselves (l33's collect_set does).

    Built with ``pyspark.ml.feature.NGram`` — a compiled Scala sliding
    window — NOT a Catalyst transform/slice/concat_ws lambda chain:
    higher-order-function lambdas execute interpreted (~3M steps/s,
    CLAUDE.md) and the expression form was THE l33 bottleneck at the
    10× smoke — 15.8 s vs 1.9 s for the same 2.6M-posting build, output
    bit-identical (symdiff 0 at n ∈ {3,4,5,13}; NGram's mkString(" ")
    over sliding windows matches concat_ws+slice exactly, including
    empty-string tokens)."""
    from pyspark.ml.feature import NGram

    base = df.select(*key_cols, F.split("text", " ").alias("_toks"))
    grams = NGram(n=n, inputCol="_toks", outputCol="_ngs").transform(base)
    return grams.select(
        *key_cols, F.explode(F.array_distinct("_ngs")).alias("ng")
    )


def _distinct_shingle_arrays(df: DataFrame, n: int, *key_cols: str) -> DataFrame:
    """(key_cols..., _dngs): per input row, the DISTINCT n-token
    shingle array, un-exploded — the map-side half of
    `_shingle_postings` kept as an array so consumers can take
    ``F.size`` (per-doc totals, zero exchange) AND explode (postings)
    from the same build."""
    from pyspark.ml.feature import NGram

    base = df.select(*key_cols, F.split("text", " ").alias("_toks"))
    grams = NGram(n=n, inputCol="_toks", outputCol="_ngs").transform(base)
    return grams.select(*key_cols, F.array_distinct("_ngs").alias("_dngs"))


def _fingerprinted_postings(dngs: DataFrame, *key_cols: str) -> DataFrame:
    """(key_cols..., fp1, fp2): exploded shingle postings carrying a
    128-bit content fingerprint (two independently-seeded xxhash64s)
    instead of the shingle STRING. Corpus-frequency aggregates
    (l38/l42) group on the fingerprint: the exchange row shrinks from
    ~70 B of 8-token text to 16 B of hash — measured 0.99 s → 0.60 s
    at sf0.1 and the dominant term of the 10× smoke ratio — while
    grouping semantics stay exact up to a 2^-128-per-pair collision
    (~3e-23 across 10^8 distinct shingles; the same fingerprint-not-
    string trade Lee et al. 2022's suffix-array pipeline and every
    production n-gram dedup makes). The string itself never needs to
    leave the map side for frequency work — consumers that must emit
    shingle TEXT (l39's excision spans) keep using
    `_shingle_postings`."""
    return dngs.select(
        *key_cols,
        F.explode("_dngs").alias("ng"),
    ).select(
        *key_cols,
        F.xxhash64("ng").alias("fp1"),
        F.xxhash64(F.lit("sg-seed2"), F.col("ng")).alias("fp2"),
    )


L10_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {DECON_NGRAM} + 2, 1)),
           i -> array_to_string(toks[i:i + {DECON_NGRAM} - 1], ' ')))) AS ng
  FROM tokd
),
bench AS (SELECT DISTINCT ng FROM sh WHERE doc_id % {BENCH_MOD} = 0),
hits AS (
  SELECT s.doc_id, count(*) AS n
  FROM sh s
  WHERE s.doc_id % {BENCH_MOD} != 0 AND s.ng IN (SELECT ng FROM bench)
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       coalesce(h.n, 0)     AS n_hit_ngrams,
       CAST(coalesce(h.n, 0) > 0 AS INTEGER) AS contaminated
FROM documents d
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {BENCH_MOD} != 0
"""


@query("l10_decontaminate", oracle=L10_ORACLE)
def l10_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training doc sharing at
    least one DECON_NGRAM-token shingle with the held-out benchmark
    set (docs with doc_id % BENCH_MOD == 0 stand in for an eval
    suite). The eval side is bounded, so its distinct shingle set
    broadcasts; the corpus explodes its shingles once and semi-joins —
    the standard n-gram-overlap recipe at map-reduce scale."""
    d = load_table(spark, sf_dir, "documents")
    sh = _shingle_postings(d, DECON_NGRAM, "doc_id")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_sh = sh.filter(is_bench).select("ng").distinct()
    hits = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench_sh), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        d.filter(~is_bench)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).alias("n_hit_ngrams"),
            # int, not boolean — same driver-canon caution as l4/f5
            (F.coalesce("n", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


# --- L11: repetition metrics (Gopher-style gate) ------------------------------

TOP_TOKEN_MAX_FRAC = 0.2
DUP_BIGRAM_MAX_FRAC = 0.4


L11_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CAST(list_max(list_transform(list_distinct(toks),
              t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
           / len(toks) AS ttf,
         1.0 - CAST(len(list_distinct(list_transform(
                 range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
             / (len(toks) - 1) AS dbf
  FROM tokd
)
SELECT doc_id, n_tokens,
       round(ttf, 4) AS top_token_frac,
       round(dbf, 4) AS dup_bigram_frac,
       CAST(ttf <= {TOP_TOKEN_MAX_FRAC} AND dbf <= {DUP_BIGRAM_MAX_FRAC} AS INTEGER) AS keep
FROM m
"""


@query("l11_repetition", oracle=L11_ORACLE)
def l11_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition gate: most-frequent-token fraction and duplicate-
    bigram fraction per doc, with a Gopher-style keep flag. All
    higher-order JVM expressions — the per-doc O(distinct x tokens)
    frequency scan stays inside codegen, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    )
    # guard: Spark's sequence(1, 0) counts DOWN (DuckDB's range(1, 1)
    # is empty) — a 1-token doc must yield no bigrams, not bogus ones
    bigrams = F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tok - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ttf = top_cnt.cast("double") / n_tok
    dbf = F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / (n_tok - 1)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(ttf, 4).alias("top_token_frac"),
        F.round(dbf, 4).alias("dup_bigram_frac"),
        # int, not boolean — same driver-canon caution as l4/f5
        ((ttf <= TOP_TOKEN_MAX_FRAC) & (dbf <= DUP_BIGRAM_MAX_FRAC)).cast("int").alias("keep"),
    )


# --- L12: PII / blocklist scrub ----------------------------------------------

PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_URL = r"https?://[^ ]+"
PII_LONGNUM = r"[0-9]{3,}"
BLOCKLIST = ("spark", "merge")
_BLOCK_RE = r"\b(" + "|".join(BLOCKLIST) + r")\b"


L12_ORACLE = f"""
SELECT
  doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
    '{PII_EMAIL}', '<EMAIL>', 'g'),
    '{PII_URL}', '<URL>', 'g'),
    '{PII_LONGNUM}', '<NUM>', 'g'),
    '{_BLOCK_RE}', '<TERM>', 'g') AS scrubbed,
  len(regexp_extract_all(text, '{PII_EMAIL}', 0)) AS n_emails,
  len(regexp_extract_all(text, '{PII_URL}', 0))   AS n_urls,
  len(regexp_extract_all(text, '{PII_LONGNUM}', 0)) AS n_longnums,
  len(regexp_extract_all(text, '{_BLOCK_RE}', 0)) AS n_blocked
FROM documents
"""


@query("l12_pii_scrub", oracle=L12_ORACLE)
def l12_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII + blocklist scrub: mask emails, URLs, long digit runs, and
    blocklisted terms, and count each entity class per doc (the audit
    trail a compliance pass needs). Pure regexp codegen — on the
    synthetic corpus only the blocklist fires, but the patterns are
    the operator's contract, exercised end-to-end by the oracle."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", PII_EMAIL, "<EMAIL>"),
                PII_URL,
                "<URL>",
            ),
            PII_LONGNUM,
            "<NUM>",
        ),
        _BLOCK_RE,
        "<TERM>",
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.regexp_count("text", F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count("text", F.lit(PII_URL)).alias("n_urls"),
        F.regexp_count("text", F.lit(PII_LONGNUM)).alias("n_longnums"),
        F.regexp_count("text", F.lit(_BLOCK_RE)).alias("n_blocked"),
    )


# --- L13: context-window chunking --------------------------------------------

CHUNK_TOKENS = 25


L13_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
ch AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT)))
           AS chunk_idx,
         unnest(list_transform(
           range(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT)),
           i -> array_to_string(
             toks[i * {CHUNK_TOKENS} + 1:(i + 1) * {CHUNK_TOKENS}], ' ')))
           AS chunk_text
  FROM tokd
)
SELECT doc_id, chunk_idx, chunk_text,
       len(string_split(chunk_text, ' ')) AS n_chunk_tokens
FROM ch
"""


@query("l13_chunk_tokens", oracle=L13_ORACLE)
def l13_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each doc into fixed CHUNK_TOKENS-token training chunks
    (final chunk ragged). A narrow per-row explode — rows grow by
    ~n_tokens/CHUNK_TOKENS x with no shuffle, which is exactly how a
    100 TB pre-tokenization pass should behave."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_chunks = F.ceil(n_tok / F.lit(float(CHUNK_TOKENS))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS)),
    )
    return d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text")).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.size(F.split("chunk_text", " ")).alias("n_chunk_tokens"),
    )


# --- L15: sequence packing (sharded, with document splitting) ----------------

PACK_CAPACITY = 64   # tokens per packed training sequence
PACK_SHARDS = 16     # docs pack independently within doc_id % PACK_SHARDS


L15_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         doc_id % {PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
pos AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
  FROM d
)
SELECT doc_id, shard, n_tokens,
       start_tok // {PACK_CAPACITY}                        AS seq_id,
       start_tok % {PACK_CAPACITY}                         AS offset_in_seq,
       (start_tok + n_tokens - 1) // {PACK_CAPACITY}
         - start_tok // {PACK_CAPACITY} + 1                AS n_seqs_spanned
FROM pos
"""


@query("l15_pack_sequences", oracle=L15_ORACLE)
def l15_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: concatenate each shard's token
    stream (doc_id order) and cut PACK_CAPACITY-token sequences,
    emitting where every doc lands (sequence id, offset, how many
    sequences it spans — docs split across boundaries, the standard
    pre-training packing). Sharding by doc_id % PACK_SHARDS is the
    scale contract: each shard packs independently off one bounded
    window cumsum, so there is no global order and the only exchange
    is the shard partitioning. Pure integer arithmetic — exact oracle."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    base = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    pos = base.withColumn("start_tok", start)
    cap = F.lit(PACK_CAPACITY)
    first_seq = F.floor(F.col("start_tok") / cap)
    last_seq = F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / cap)
    return pos.select(
        "doc_id",
        "shard",
        "n_tokens",
        first_seq.alias("seq_id"),
        (F.col("start_tok") % cap).alias("offset_in_seq"),
        (last_seq - first_seq + 1).alias("n_seqs_spanned"),
    )


# --- L16: vocabulary statistics ----------------------------------------------

VOCAB_TOP_K = 100


L16_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token,
       count(*)                 AS cf,
       count(DISTINCT doc_id)   AS df
FROM tok
GROUP BY token
ORDER BY cf DESC, token
LIMIT {VOCAB_TOP_K}
"""


@query("l16_vocab_stats", oracle=L16_ORACLE)
def l16_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: collection frequency and document frequency
    per token, top VOCAB_TOP_K by cf (ties broken on the token's total
    order, so the emitted SET is deterministic). The tokenizer-training
    precursor: explode → one grouped agg → TakeOrderedAndProject top-k,
    never a global sort of the vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("cf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("cf"), "token")
        .limit(VOCAB_TOP_K)
    )


# --- L14: reproducible hash sampling -----------------------------------------

SAMPLE_HEX_DIGITS = ("0", "1", "2")  # 3/16 deterministic sample


L14_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket
FROM b
WHERE bucket IN ({", ".join(repr(h) for h in SAMPLE_HEX_DIGITS)})
"""


@query("l14_hash_sample", oracle=L14_ORACLE)
def l14_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep docs whose
    md5(lang:doc_id) first hex digit falls in a fixed set (3/16 rate),
    salted by stratum so per-language subsets are independent. Unlike
    seed-based ``sample`` (o9), the selection is a pure per-row
    predicate — reproducible across runs, engines, and cluster sizes,
    with no RNG state to coordinate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat_ws(":", "lang", F.col("doc_id").cast("string"))), 1, 1
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket").isin(*SAMPLE_HEX_DIGITS))
    )


# --- L17: domain-mixture resampling ------------------------------------------

# Target sampling weight per source domain: w < 1 downsamples by a
# deterministic hash predicate, w > 1 upsamples by emitting full
# epochs plus a hash-selected fractional epoch — the standard
# pre-training "data mixing" step (e.g. books seen ~2x, low-quality
# web ~0.4x). Unlisted sources default to 1.0.
MIXTURE_WEIGHTS = {
    "src0": 2.5,
    "src1": 2.0,
    "src2": 1.5,
    "src3": 0.75,
    "src4": 0.4,
    "src5": 0.0,
}

# 32-bit hash of source:doc_id both engines compute identically
# (first 8 md5 nibbles), scaled against frac(w) * 2^32.
_HEXD = "0123456789abcdef"


def _md5_int32_sql(expr: str) -> str:
    return " + ".join(
        f"(strpos('{_HEXD}', substring(md5({expr}), {i}, 1)) - 1) * {16 ** (8 - i)}::BIGINT"
        for i in range(1, 9)
    )


def _mixture_cases() -> tuple[str, str]:
    wfloor = " ".join(
        f"WHEN '{s}' THEN {int(w)}" for s, w in MIXTURE_WEIGHTS.items()
    )
    thresh = " ".join(
        f"WHEN '{s}' THEN {int((w - int(w)) * (1 << 32))}"
        for s, w in MIXTURE_WEIGHTS.items()
    )
    return (
        f"CASE source {wfloor} ELSE 1 END",
        f"CASE source {thresh} ELSE 0 END",
    )


_MIX_WFLOOR_SQL, _MIX_THRESH_SQL = _mixture_cases()

L17_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source,
         {_MIX_WFLOOR_SQL} AS wfloor,
         {_MIX_THRESH_SQL} AS thresh,
         {_md5_int32_sql("source || ':' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
n AS (
  SELECT doc_id, source,
         wfloor + (CASE WHEN h < thresh THEN 1 ELSE 0 END) AS n_copies
  FROM w
)
SELECT doc_id, source, unnest(range(0, n_copies)) AS epoch
FROM n
WHERE n_copies > 0
"""


@query("l17_domain_mixture", oracle=L17_ORACLE)
def l17_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: emit each document once per training
    epoch according to its source's target weight — floor(w) full
    copies plus one more iff md5-hash(source:doc_id) falls under the
    fractional remainder. Weight 0 drops the source; weight 2.5 yields
    2 or 3 copies. Purely per-row JVM arithmetic + one narrow explode:
    no shuffle, no RNG state, identical output on any cluster layout —
    which is what makes the mixture reproducible at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    wfloor = F.lit(1)
    thresh = F.lit(0)
    for s, w in MIXTURE_WEIGHTS.items():
        wfloor = F.when(F.col("source") == s, F.lit(int(w))).otherwise(wfloor)
        thresh = F.when(
            F.col("source") == s, F.lit(int((w - int(w)) * (1 << 32)))
        ).otherwise(thresh)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", "source", F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    n_copies = wfloor + F.when(h < thresh, 1).otherwise(0)
    return (
        d.select("doc_id", "source", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1)).alias("epoch"),
        )
    )


# --- L18: BPE-style adjacent-pair statistics ---------------------------------

BPE_TOP_PAIRS = 50


L18_ORACLE = f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(word)),
                               i -> substring(word, CAST(i AS INT), 2))) AS pair
  FROM words
  WHERE length(word) >= 2
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_TOP_PAIRS}
"""


@query("l18_bpe_pairs", oracle=L18_ORACLE)
def l18_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE-training iteration: corpus-wide frequency of
    adjacent character pairs within words (occurrence-weighted, as BPE
    counts), top BPE_TOP_PAIRS with deterministic tie-break. Two
    narrow explodes then ONE grouped agg fused into
    TakeOrderedAndProject — the merge table never sees a global sort.
    Repeated per merge round (with the chosen pair fused) this is the
    full tokenizer-training loop; one round is registered because each
    round is the same plan."""
    d = load_table(spark, sf_dir, "documents")
    word = F.explode(F.split("text", " ")).alias("word")
    words = d.select(word).filter(F.length("word") >= 2)
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)),
        )
    ).alias("pair")
    return (
        words.select(pair)
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# --- L19: TF-IDF term ranking (log-free idf for exact replay) ----------------

TFIDF_TOP_TERMS = 3


L19_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         tf.tf * (SELECT count(*) FROM documents) / df.df AS score
  FROM tf JOIN df USING (token)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, df, score, rnk
FROM ranked WHERE rnk <= {TFIDF_TOP_TERMS}
"""


@query("l19_tfidf_terms", oracle=L19_ORACLE)
def l19_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top characteristic terms per document by tf-idf, with a
    LOG-FREE idf (tf * N / df): libm log() is not bit-identical
    across engines, an exact integer ratio is — same ranking, exact
    oracle. Plan: tf agg and df agg share the exploded scan, the
    vocabulary join runs token-partitioned, N arrives as a broadcast
    single-row cross join (never a driver-side collect), and the
    per-doc top-k is one bounded window."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")) / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .select("doc_id", "token", "tf", "df", "score", "rnk")
    )


# --- L20: model-based quality classifier (exact linear margin) ---------------

# Integer weights over ratio features with n_tokens as the common
# denominator, so the margin numerator is an exact integer:
#   margin = 40*uniq_ratio - 25*stop_ratio - 12
#          = (40*n_uniq - 25*n_stop - 12*n_tokens) / n_tokens
QC_W_UNIQ = 40
QC_W_STOP = -25
QC_BIAS = -12


L20_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         len(list_filter(string_split(text, ' '),
                         x -> list_contains([{_STOP_SQL}], x))) AS n_stop
  FROM documents
),
m AS (
  SELECT doc_id, n_tokens, n_uniq, n_stop,
         {QC_W_UNIQ} * n_uniq + ({QC_W_STOP}) * n_stop
           + ({QC_BIAS}) * n_tokens AS margin_num
  FROM feat
)
SELECT doc_id, n_tokens, n_uniq, n_stop,
       CAST(margin_num AS DOUBLE) / n_tokens AS margin,
       round(1.0 / (1.0 + exp(-(CAST(margin_num AS DOUBLE) / n_tokens))), 4)
         AS prob_keep,
       CAST(margin_num > 0 AS INTEGER) AS keep
FROM m
"""


@query("l20_quality_classifier", oracle=L20_ORACLE)
def l20_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier stage of
    public pipelines like CCNet/RefinedWeb, distilled to its engine
    shape): a linear model over per-document features scoring every doc
    in one narrow, codegen'd pass. The margin keeps an exact-integer
    numerator over the n_tokens denominator (same trick as l19's
    log-free idf) so the decision boundary and the margin itself are
    bit-identical across engines; only the display probability touches
    libm exp(), after the decision is already made. Scale: stateless
    per-row scan — no shuffle, no model join (weights are literals; a
    real model's weight vector arrives as a broadcast map)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stops = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    margin_num = (
        F.lit(QC_W_UNIQ) * n_uniq + F.lit(QC_W_STOP) * n_stop + F.lit(QC_BIAS) * n_tok
    )
    margin = margin_num.cast("double") / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq"),
        n_stop.alias("n_stop"),
        margin.alias("margin"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 4).alias("prob_keep"),
        (margin_num > 0).cast("int").alias("keep"),
    )


# --- L21: corpus-fit unigram LM familiarity (perplexity-filter analog) -------

L21_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
cf AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY token
),
corpus AS (
  SELECT CAST(sum(cf) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS v_size
  FROM cf
),
scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(c.cf) AS BIGINT) AS sum_cf
  FROM tok t JOIN cf c USING (token)
  GROUP BY t.doc_id
)
SELECT s.doc_id, s.n_tokens, s.sum_cf,
       CAST(s.sum_cf AS DOUBLE) / s.n_tokens AS familiarity,
       CAST(s.sum_cf * k.v_size < k.n_total * s.n_tokens AS INTEGER)
         AS is_unfamiliar
FROM scored s CROSS JOIN corpus k
"""


@query("l21_unigram_lm", oracle=L21_ORACLE)
def l21_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-based filtering (the KenLM-perplexity stage of
    CCNet, in engine shape): FIT a unigram model on the corpus itself
    (token -> corpus frequency, one agg), then SCORE every document by
    its mean token frequency — all integer arithmetic until one final
    division, so scores replay exactly (libm log() never runs; mean
    frequency ranks documents identically to mean unigram probability).
    A doc is flagged unfamiliar when its mean cf falls below the
    corpus-uniform mean N/V, compared in cross-multiplied integers so
    the boundary is exact. Plan: the exploded scan is shared by the fit
    agg and the score join; the vocabulary join is token-partitioned
    (broadcastable when V is small, shuffle otherwise — Spark/AQE
    picks); corpus totals arrive as a broadcast single row. Scale note:
    the cross-multiplied flag needs sum_cf * V < 2^63 — at
    web-corpus V (~1e7) that holds through ~1e11-token corpora; past
    that, compare the two exact doubles instead."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    cf = tok.groupBy("token").agg(F.count("*").alias("cf"))
    corpus = cf.agg(
        F.sum("cf").alias("n_total"), F.count("*").alias("v_size")
    )
    scored = (
        tok.join(cf, "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("cf").alias("sum_cf"))
    )
    return scored.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "n_tokens",
        "sum_cf",
        (F.col("sum_cf").cast("double") / F.col("n_tokens")).alias("familiarity"),
        (F.col("sum_cf") * F.col("v_size") < F.col("n_total") * F.col("n_tokens"))
        .cast("int")
        .alias("is_unfamiliar"),
    )


# --- L23: span-level (substring) dedup detection -----------------------------

SPAN_N = 5  # window width in tokens; every fixture doc (>=10 tokens) has spans


L23_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(toks) - {SPAN_N} + 2),
           i -> array_to_string(toks[i:i + {SPAN_N} - 1], ' '))) AS gram
  FROM tokd WHERE len(toks) >= {SPAN_N}
),
occ AS (
  SELECT gram, count(*) AS total, count(DISTINCT doc_id) AS ndocs
  FROM grams GROUP BY gram
),
per_doc AS (
  SELECT g.doc_id,
         count(*) AS n_spans,
         CAST(sum(CASE WHEN o.total > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
         CAST(sum(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cross_doc_spans
  FROM grams g JOIN occ o USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       coalesce(p.n_cross_doc_spans, 0) AS n_cross_doc_spans
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("l23_span_dedup", oracle=L23_ORACLE)
def l23_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate detection: for every {SPAN_N}-token window
    of every document, count how often that exact span recurs — in the
    whole corpus (``n_dup_spans``: any repeat, including within the
    same document) and across distinct documents
    (``n_cross_doc_spans``). The per-span form of exact substring
    dedup from the public train-data-dedup literature: document-level
    dedup misses boilerplate shared between otherwise-distinct pages,
    and these counters are exactly the signal a span-cut pass keys on.

    Shape: one explode (×~n_tokens rows, narrow), one groupBy on the
    span text (shuffle 1: map-side partial counts), one join back on
    span text (shuffle 2, same key — Catalyst reuses the exchange),
    one per-doc aggregate. At 100 TB the span key should be
    ``xxhash64(gram)`` (8 bytes instead of ~30), an engine-side swap
    that leaves semantics identical modulo 2^-64 collisions; the
    oracle-checked form keeps the exact string key.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts"))
    grams = (
        toks.filter(F.size("ts") >= SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - SPAN_N + 1),
                    lambda i: F.concat_ws(" ", F.slice("ts", i, SPAN_N)),
                )
            ).alias("gram"),
        )
    )
    occ = grams.groupBy("gram").agg(
        F.count("*").alias("total"), F.countDistinct("doc_id").alias("ndocs")
    )
    per_doc = (
        grams.join(occ, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("total") > 1).cast("long")).alias("n_dup_spans"),
            F.sum((F.col("ndocs") > 1).cast("long")).alias("n_cross_doc_spans"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("n_cross_doc_spans", F.lit(0)).alias("n_cross_doc_spans"),
        )
    )


# --- L25: BM25 keyword retrieval ---------------------------------------------

# Fixed multi-term query with a deliberate df spread on the fixture
# vocabulary (rare / medium / common) so the idf weighting is visible
# in the ranking. k1 = 6/5, b = 3/4 (the standard 1.2 / 0.75).
BM25_TERMS = ("dup", "vector", "join")
BM25_TOP_K = 20


def _bm25_score_sql(tf: str, df: str, dl: str, n: str, t: str) -> str:
    """Per-term BM25 as ONE integer-ratio division — log-free odds
    idf ((N-df+.5)/(df+.5)) times the k1/b saturation, both scaled to
    exact BIGINT numerator/denominator (k1=6/5, b=3/4 multiplied
    through by 10*T): bitwise-identical doubles on any engine."""
    num = f"(2*{n} - 2*{df} + 1) * 22 * {t} * {tf}"
    den = f"(2*{df} + 1) * (10*{t}*{tf} + 3*{t} + 9*{n}*{dl})"
    return f"({num}) / ({den})"


_BM25_IN = ", ".join(f"'{w}'" for w in BM25_TERMS)
_BM25_PIV = ",\n         ".join(
    f"coalesce(max(CASE WHEN term = '{w}' THEN sc END), 0.0) AS s_{w}"
    for w in BM25_TERMS
)
_BM25_SUM = " + ".join(f"s_{w}" for w in BM25_TERMS)

L25_ORACLE = f"""
WITH dld AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
g AS (SELECT count(*) AS n_docs, sum(dl) AS total_tok FROM dld),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_BM25_IN}) GROUP BY doc_id, term
),
dft AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN ({_BM25_IN}) GROUP BY term
),
s AS (
  SELECT tf.doc_id, tf.term,
         {_bm25_score_sql("tf.tf", "dft.df", "dld.dl", "g.n_docs", "g.total_tok")} AS sc
  FROM tf
  JOIN dft USING (term)
  JOIN dld ON tf.doc_id = dld.doc_id
  CROSS JOIN g
),
p AS (
  SELECT doc_id,
         {_BM25_PIV}
  FROM s GROUP BY doc_id
),
r AS (SELECT doc_id, {", ".join("s_" + w for w in BM25_TERMS)},
             {_BM25_SUM} AS score
      FROM p)
SELECT doc_id, {", ".join("s_" + w for w in BM25_TERMS)}, score,
       row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
FROM r
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


@query("l25_bm25_retrieval", oracle=L25_ORACLE)
def l25_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (top-BM25_TOP_K): the lexical complement to the
    embedding ANN family (l3/l3b/l3c) — score every document against a
    fixed multi-term query with k1=1.2, b=0.75 length-normalized term
    saturation and a LOG-FREE odds-ratio idf, so each per-term score
    is one BIGINT/BIGINT division (exact while idf_num*22*T*tf < 2^53;
    beyond that the same plan runs with double accumulators and only
    sub-ulp rank ties can differ). The multi-term sum is a fixed-order
    3-column addition after a pivot — no float-reduction
    nondeterminism anywhere, hence the exact oracle.

    Plan shape: tokens filter to the query terms BEFORE the tf agg
    (predicate on the exploded scan — the "query" side of an inverted
    index without materializing one), df and the global N/T are
    broadcast single-digit-row aggregates, and the final top-k is
    orderBy+limit (TakeOrderedAndProject), never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    dld = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    g = dld.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tok")
    )
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*BM25_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dft = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    sc = F.expr(
        _bm25_score_sql("tf", "df", "dl", "n_docs", "total_tok")
    ).alias("sc")
    s = (
        tf.join(F.broadcast(dft), "term")
        .join(dld, "doc_id")
        .crossJoin(F.broadcast(g))
        .select("doc_id", "term", sc)
    )
    p = s.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == w, F.col("sc"))), F.lit(0.0)
            ).alias(f"s_{w}")
            for w in BM25_TERMS
        ]
    )
    score = None
    for w in BM25_TERMS:
        score = F.col(f"s_{w}") if score is None else score + F.col(f"s_{w}")
    r = p.select("doc_id", *[f"s_{w}" for w in BM25_TERMS], score.alias("score"))
    top = r.orderBy(F.desc("score"), "doc_id").limit(BM25_TOP_K)
    from pyspark.sql import Window

    # row_number over the already-limited top-k (20 rows, one
    # partition) — the global sort never materializes.
    return top.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("score"), "doc_id")),
    )


# --- L52: hybrid retrieval fusion (reciprocal-rank fusion) --------------------

# RRF constant (Cormack/Clarke/Buettcher's 60) and the integer scale:
# each retriever contributes floor(1e9 / (RRF_K + rank)) "parts per
# billion" — the fusion score is a sum of two BIGINTs, so ranking is
# engine-exact with no float reciprocal anywhere.
RRF_K = 60
RRF_SCALE = 1_000_000_000

_QL_PIV = ",\n         ".join(
    f"coalesce(max(CASE WHEN term = '{w}' THEN sc END), 0.0) AS s_{w}"
    for w in BM25_TERMS
)
_QL_SUM = " + ".join(f"s_{w}" for w in BM25_TERMS)

L52_ORACLE = f"""
WITH dld AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
g AS (SELECT count(*) AS n_docs, sum(dl) AS total_tok FROM dld),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_BM25_IN}) GROUP BY doc_id, term
),
dft AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN ({_BM25_IN}) GROUP BY term
),
cft AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tok
  WHERE term IN ({_BM25_IN}) GROUP BY term
),
bs AS (
  SELECT tf.doc_id, tf.term,
         {_bm25_score_sql("tf.tf", "dft.df", "dld.dl", "g.n_docs", "g.total_tok")} AS sc
  FROM tf JOIN dft USING (term) JOIN dld ON tf.doc_id = dld.doc_id
  CROSS JOIN g
),
bp AS (SELECT doc_id, {_BM25_PIV} FROM bs GROUP BY doc_id),
bm AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY ({_BM25_SUM}) DESC, doc_id) AS rnk
  FROM bp ORDER BY ({_BM25_SUM}) DESC, doc_id LIMIT {BM25_TOP_K}
),
qs AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf * g.total_tok + cft.cf * dld.dl AS DOUBLE)
           / (dld.dl * g.total_tok) AS sc
  FROM tf JOIN cft USING (term) JOIN dld ON tf.doc_id = dld.doc_id
  CROSS JOIN g
),
qp AS (SELECT doc_id, {_QL_PIV} FROM qs GROUP BY doc_id),
ql AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY ({_QL_SUM}) DESC, doc_id) AS rnk
  FROM qp ORDER BY ({_QL_SUM}) DESC, doc_id LIMIT {BM25_TOP_K}
),
fused AS (
  SELECT coalesce(bm.doc_id, ql.doc_id) AS doc_id,
         CAST(coalesce(bm.rnk, 0) AS BIGINT) AS bm25_rnk,
         CAST(coalesce(ql.rnk, 0) AS BIGINT) AS ql_rnk,
         CAST(CASE WHEN bm.rnk IS NULL THEN 0
              ELSE {RRF_SCALE} // ({RRF_K} + bm.rnk) END
            + CASE WHEN ql.rnk IS NULL THEN 0
              ELSE {RRF_SCALE} // ({RRF_K} + ql.rnk) END AS BIGINT) AS rrf_ppb
  FROM bm FULL OUTER JOIN ql ON bm.doc_id = ql.doc_id
)
SELECT doc_id, bm25_rnk, ql_rnk, rrf_ppb,
       CAST(row_number() OVER (ORDER BY rrf_ppb DESC, doc_id) AS BIGINT)
         AS fused_rnk
FROM fused
"""


@query("l52_hybrid_rrf", oracle=L52_ORACLE)
def l52_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion: reciprocal-rank fusion (RRF, the
    standard hybrid-search combiner) of two independent retrievers
    over the same fixed query — l25's BM25 ranking and a
    Jelinek-Mercer query-likelihood ranking (λ=1/2 additive per-term
    smoothing: tf/dl + cf/N as ONE BIGINT-ratio division per term,
    summed in fixed pivot order like BM25's — no logs, no float
    reduction). Each retriever's top-k contributes
    floor(1e9/(60+rank)) integer points; absent docs contribute 0.
    The fusion therefore needs only the two RANK columns — exactly
    why production hybrid search fuses on ranks, not scores: rank
    lists compose across retrievers whose score scales are
    incomparable (BM25 odds-idf vs smoothed likelihood here).

    Scale shape: each retriever is a term-filtered exploded scan +
    broadcast stats + TakeOrderedAndProject top-k (never a global
    sort); the fusion joins two k-row frames — driver-trivial at any
    corpus size. The k-row full outer join is a broadcast NLJ on
    frames of 20 rows."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    bm = l25_bm25_retrieval(spark, sf_dir).select(
        "doc_id", F.col("rnk").cast("long").alias("bm_rnk")
    )

    dld = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    g = dld.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("total_tok"))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*BM25_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    cft = tok.groupBy("term").agg(F.count("*").cast("long").alias("cf"))
    qs = (
        tf.join(F.broadcast(cft), "term")
        .join(dld, "doc_id")
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            "term",
            F.expr(
                "CAST(tf * total_tok + cf * dl AS DOUBLE) / (dl * total_tok)"
            ).alias("sc"),
        )
    )
    qp = qs.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == w, F.col("sc"))), F.lit(0.0)
            ).alias(f"s_{w}")
            for w in BM25_TERMS
        ]
    )
    qscore = None
    for w in BM25_TERMS:
        qscore = F.col(f"s_{w}") if qscore is None else qscore + F.col(f"s_{w}")
    qtop = (
        qp.select("doc_id", qscore.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP_K)
    )
    ql = qtop.withColumn(
        "ql_rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("long"),
    ).select("doc_id", "ql_rnk")

    # floor(1e9/(K+rank)) via integral `div` on BOTH engines (DuckDB
    # `//`) — never a double reciprocal truncated back to integer
    rrf_sum = F.expr(
        f"CAST(CASE WHEN bm_rnk IS NULL THEN 0"
        f" ELSE {RRF_SCALE} DIV ({RRF_K} + bm_rnk) END"
        f" + CASE WHEN ql_rnk IS NULL THEN 0"
        f" ELSE {RRF_SCALE} DIV ({RRF_K} + ql_rnk) END AS BIGINT)"
    )
    fused = (
        bm.join(ql, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("bm_rnk", F.lit(0)).cast("long").alias("bm25_rnk"),
            F.coalesce("ql_rnk", F.lit(0)).cast("long").alias("ql_rnk"),
            rrf_sum.alias("rrf_ppb"),
        )
    )
    return fused.withColumn(
        "fused_rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("rrf_ppb"), "doc_id"))
        .cast("long"),
    )


# --- L27: deterministic epoch shuffle ----------------------------------------

SHUFFLE_EPOCHS = 2


L27_ORACLE = f"""
WITH e AS (
  SELECT doc_id, epoch
  FROM documents CROSS JOIN (SELECT unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch)
),
h AS (
  SELECT doc_id, epoch,
         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS hk
  FROM e
)
SELECT epoch, substring(hk, 1, 1) AS shard, doc_id,
       row_number() OVER (
         PARTITION BY epoch, substring(hk, 1, 1) ORDER BY hk, doc_id) AS pos
FROM h
"""


@query("l27_epoch_shuffle", oracle=L27_ORACLE)
def l27_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: every (doc, epoch) gets a
    position from sorting on md5(epoch:doc_id) — a different
    pseudo-random permutation per epoch with NO RNG state, identical
    on any cluster layout or retry (the property seed-based shuffles
    lose the moment partitioning changes). The scale shape: the hash
    prefix shards the order (16 here, 4096 at 100 TB), positions are
    assigned WITHIN shards — one hash-partition shuffle, per-shard
    sorts, never a global sort; training readers consume shards
    round-robin, which preserves the shuffle's statistical purpose."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    e = d.select("doc_id").crossJoin(
        spark.range(SHUFFLE_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    )
    h = e.withColumn(
        "hk",
        F.md5(F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id").cast("string"))),
    ).withColumn("shard", F.substring("hk", 1, 1))
    w = Window.partitionBy("epoch", "shard").orderBy("hk", "doc_id")
    return h.select(
        "epoch", "shard", "doc_id", F.row_number().over(w).alias("pos")
    )


# --- L29: token-budget corpus selection --------------------------------------

# The planning step between mixture weights (l17) and shard export
# (o14): given a per-source token budget, pick WHICH documents fill it
# — deterministically, so every rerun/engine/cluster layout selects
# the same corpus. Priority is md5(doc_id) (an unbiased, coordination-
# free order); a doc is admitted iff its source's budget was not
# already exhausted before it, so each source overshoots by at most
# one document (the standard greedy knapsack cut every curation
# pipeline uses — a partial final doc is taken, not split).
#
# Scale shape: token counting is a per-row JVM expression, the cumsum
# is ONE window shuffle partitioned by source. Integer-exact
# throughout (token counts and running sums are BIGINT on both sides).

TOKEN_BUDGET = 800  # per-source token budget (fixture sources hold ~1.3-1.6k)

L29_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS pri
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
         CAST(row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS BIGINT)
           AS pick_order
  FROM t
)
SELECT doc_id, source, n_tok, cum_tok, pick_order
FROM c
WHERE cum_tok - n_tok < {TOKEN_BUDGET}
"""


@query("l29_token_budget", oracle=L29_ORACLE)
def l29_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source token-budget selection: hash-ordered
    greedy fill to TOKEN_BUDGET tokens per source. One window shuffle
    on source; no RNG state; the admitted set is identical under any
    partitioning or retry, which is what makes the selected corpus
    reproducible (and auditable: cum_tok/pick_order record exactly why
    each doc made the cut)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    w = Window.partitionBy("source").orderBy("pri", "doc_id")
    c = t.select(
        "doc_id",
        "source",
        "n_tok",
        F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_tok"),
        F.row_number().over(w).cast("long").alias("pick_order"),
    )
    return c.filter(F.col("cum_tok") - F.col("n_tok") < TOKEN_BUDGET)


# --- L33: cross-source contamination matrix ----------------------------------

L33_NGRAM = 4


L33_ORACLE = f"""
WITH tokd AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {L33_NGRAM} + 2, 1)),
           i -> array_to_string(toks[i:i + {L33_NGRAM} - 1], ' ')))) AS ng
  FROM tokd
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS shared_ngrams
  FROM sh a JOIN sh b ON a.ng = b.ng AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b, s.shared_ngrams,
       sa.n AS n_a, sb.n AS n_b,
       s.shared_ngrams * 10000 // (sa.n + sb.n - s.shared_ngrams) AS jaccard_bp
FROM shared s
JOIN sizes sa ON sa.source = s.source_a
JOIN sizes sb ON sb.source = s.source_b
"""


@query("l33_source_overlap", oracle=L33_ORACLE)
def l33_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, the number of distinct 4-token shingles they share and the integer-basis-point Jaccard — the diagnostic a
    curation pipeline runs before mixing sources (is "web" a superset
    of "forum"? did two crawls ingest the same site?).

    Scale shape (re-laddered r7 after the 10× smoke pinned this at
    5.5×, the table's worst ratio): ONE shuffle over the exploded
    postings into ``groupBy(ng).collect_set(source)`` — collect_set's
    partial aggregate dedups map-side, so the pre-``distinct`` the r5
    form ran was a second full postings shuffle for nothing, and the
    vocabulary-sized grouped frame is localCheckpoint'ed so that BOTH
    consumers (per-source sizes and the pair matrix) read it instead
    of re-running the explode (ReuseExchange is not trusted to dedup a
    twice-referenced subplan — the l33 r5 lesson, CLAUDE.md). After
    that one shuffle every stage is bounded by vocabulary × sources,
    not by document count; the matrix is O(sources²) rows of integers.
    Jaccard stays in integer basis points (shared×10000 div union) —
    no float division to diverge.
    """
    d = load_table(spark, sf_dir, "documents")
    grouped = (
        _shingle_postings(d, L33_NGRAM, "source")
        .groupBy("ng")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .localCheckpoint(eager=True)  # vocab-sized; read twice below
    )
    sizes = (
        grouped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n"))
    )
    # pair generation: per-shingle source SET (bounded by the source
    # count, a handful) exploded to ordered pairs IN-ROW — no postings
    # self-join (the join formulation scanned + shuffled the postings
    # twice; measured 6.3× at the 10× smoke, ~2× of which was this)
    srcs = F.col("srcs")
    pair_structs = F.flatten(
        F.transform(
            srcs,
            lambda x, i: F.transform(
                F.slice(srcs, i + 2, F.size(srcs)),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    shared = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count("*").cast("long").alias("shared_ngrams"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_ngrams",
            "n_a",
            "n_b",
            F.expr(
                "(shared_ngrams * 10000) div (n_a + n_b - shared_ngrams)"
            ).alias("jaccard_bp"),
        )
    )


# --- L38: substring-duplication density ---------------------------------------

L38_NGRAM = 8

L38_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {L38_NGRAM} + 2, 1)),
           i -> array_to_string(toks[i:i + {L38_NGRAM} - 1], ' ')))) AS ng
  FROM tokd
),
freq AS (
  SELECT ng, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY ng
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 10000
         // CAST(count(*) AS BIGINT) AS dup_bp
FROM sh s JOIN freq f USING (ng)
GROUP BY s.doc_id
"""


@query("l38_dup_density", oracle=L38_ORACLE)
def l38_dup_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication density: for every doc, the fraction
    (integer basis points) of its distinct 8-token shingles that occur
    in at least one OTHER place in the corpus — the per-document signal
    behind exact-substring training-data dedup (the scalable K-gram
    form of the suffix-array recipe in Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): docs with high
    dup_bp are boilerplate/templates/mirrors and get scrubbed or
    down-weighted before near-dup clustering ever runs.

    Scale shape (reworked twice — r6 review killed the original
    collect_list(doc_id)-per-shingle UNBOUNDED hot-key buffer; the r7
    verdict asked for the 10× smoke ratio under ~3×): every aggregate
    holds O(1) state per key, and the ONE corpus-sized exchange ships
    16-byte 128-bit shingle fingerprints, not 8-token strings
    (`_fingerprinted_postings` — collision bound documented there).
    Key identity: a doc's n_dup = n_shingles − (its df=1 shingles),
    and a df=1 shingle has exactly ONE owner — so the fp-keyed
    aggregate keeps only (df, min doc_id), the df=1 survivors rollup
    to per-doc unique counts, and per-doc totals never touch the
    postings at all: n_shingles = F.size of the distinct-shingle
    array, MAP-side (`_distinct_shingle_arrays`), zero exchange. A
    doc-keyed left join of two doc-cardinality frames assembles the
    result — never a corpus self-join. 10× smoke: 4.4× → 2.1× warm
    (0.95 s → 2.00 s on 10× rows). Shingles come from the compiled
    NGram builder (the interpreted-HOF trap is documented on
    `_shingle_postings`); since a doc's shingles are per-doc distinct,
    df ≥ 2 means genuinely cross-document repetition. Docs shorter
    than 8 tokens emit no shingles and no row, on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    dngs = _distinct_shingle_arrays(d, L38_NGRAM, "doc_id")
    grouped = _fingerprinted_postings(dngs, "doc_id").groupBy("fp1", "fp2").agg(
        F.count("*").cast("long").alias("df"),
        F.min("doc_id").alias("owner"),
    )
    uniq = (
        grouped.filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("n_uniq"))
    )
    # per-doc shingle totals are MAP-SIDE (array size before any
    # explode): zero exchange, zero second pass over the postings
    totals = dngs.select(
        "doc_id", F.size("_dngs").cast("long").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    return (
        totals.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            (F.col("n_shingles") - F.coalesce("n_uniq", F.lit(0)))
            .cast("long")
            .alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            F.expr("(n_dup * 10000) div n_shingles").alias("dup_bp"),
        )
    )


# --- L39: duplicated-span excision plan ----------------------------------------


def _shingle_postings_pos(df: DataFrame, n: int, *key_cols: str) -> DataFrame:
    """(key_cols..., pos, ng): EVERY n-token shingle occurrence with its
    0-based start-token position — no per-doc dedup, unlike
    `_shingle_postings`, because excision needs all occurrences. Same
    compiled-NGram builder (positions are the array index)."""
    from pyspark.ml.feature import NGram

    base = df.select(*key_cols, F.split("text", " ").alias("_toks"))
    grams = NGram(n=n, inputCol="_toks", outputCol="_ngs").transform(base)
    return grams.select(
        *key_cols, F.posexplode("_ngs").alias("pos", "ng")
    )


L39_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh_pos AS (  -- every occurrence with its 0-based start position
  SELECT doc_id, i - 1 AS pos,
         array_to_string(toks[i:i + {L38_NGRAM} - 1], ' ') AS ng
  FROM tokd, unnest(range(1, greatest(len(toks) - {L38_NGRAM} + 2, 1))) AS t(i)
),
freq AS (  -- cross-doc document frequency (per-doc distinct)
  SELECT ng, count(DISTINCT doc_id) AS df FROM sh_pos GROUP BY ng
),
cov AS (
  SELECT DISTINCT s.doc_id, s.pos AS s
  FROM sh_pos s JOIN freq f USING (ng) WHERE f.df >= 2
),
marked AS (
  SELECT doc_id, s, s + {L38_NGRAM} - 1 AS e,
         CASE WHEN s > coalesce(max(s + {L38_NGRAM} - 1) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS is_new
  FROM cov
),
spans AS (
  SELECT doc_id, s, e,
         CAST(sum(is_new) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_id
  FROM marked
)
SELECT doc_id, span_id,
       CAST(min(s) AS BIGINT) AS tok_start,
       CAST(max(e) AS BIGINT) AS tok_end,
       CAST(max(e) - min(s) + 1 AS BIGINT) AS n_tokens
FROM spans
GROUP BY doc_id, span_id
"""


@query("l39_dup_spans", oracle=L39_ORACLE)
def l39_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span excision plan: the merged token intervals each
    doc would lose under exact-substring dedup — every occurrence of an
    8-token shingle that also appears in ANOTHER doc marks tokens
    [pos, pos+7], and overlapping/contiguous marks merge into spans.
    This is the scrub step that consumes l38's diagnosis (Lee et al.
    2022 excise duplicated substrings rather than whole docs); emitting
    the span list, not rewritten text, keeps the output engine-exact
    integers and lets the caller choose excise vs mask vs drop.

    Scale shape: positional postings (compiled NGram + posexplode, no
    dedup) shuffle once to acquire cross-doc document frequency — the
    frequency side is the SAME aggregate l38 runs, here with per-doc
    distinct folded into count(DISTINCT doc_id) — then covered start
    positions flow into one doc-keyed window (interval-union by
    running-max end, the t4b dynamic-gap rewrite pattern) and a final
    per-span rollup. Intra-doc-only repeats (df = 1) deliberately do
    NOT mark spans: that is l11's repetition gate; this operator is
    strictly cross-document."""
    d = load_table(spark, sf_dir, "documents")
    sh_pos = _shingle_postings_pos(d, L38_NGRAM, "doc_id")
    freq = sh_pos.groupBy("ng").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    cov = (
        sh_pos.join(freq.filter(F.col("df") >= 2), "ng")
        .select("doc_id", F.col("pos").cast("long").alias("s"))
        .distinct()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("s")
    e = F.col("s") + (L38_NGRAM - 1)
    prev_end = F.max(e).over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = cov.select(
        "doc_id",
        "s",
        e.alias("e"),
        F.when(F.col("s") > F.coalesce(prev_end, F.lit(-2)) + 1, 1)
        .otherwise(0)
        .alias("is_new"),
    )
    spans = marked.select(
        "doc_id",
        "s",
        "e",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("span_id"),
    )
    return spans.groupBy("doc_id", "span_id").agg(
        F.min("s").cast("long").alias("tok_start"),
        F.max("e").cast("long").alias("tok_end"),
        (F.max("e") - F.min("s") + 1).cast("long").alias("n_tokens"),
    )


# --- L41: CCNet-style perplexity bucketing (head/middle/tail per language) ----

L41_BUCKETS = 3
L41_NAMES = ("head", "middle", "tail")


L41_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
cf AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY token
),
scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(c.cf) AS BIGINT) AS sum_cf
  FROM tok t JOIN cf c USING (token)
  GROUP BY t.doc_id
),
fam AS (
  SELECT s.doc_id, d.lang, s.n_tokens,
         CAST(s.sum_cf AS DOUBLE) / s.n_tokens AS familiarity
  FROM scored s JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL
),
tiled AS (
  SELECT doc_id, lang, n_tokens, familiarity,
         ntile(3) OVER (
           PARTITION BY lang ORDER BY familiarity DESC, doc_id
         ) AS t3
  FROM fam
)
SELECT doc_id, lang, n_tokens, familiarity,
       CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket
FROM tiled
"""


@query("l41_perplexity_buckets", oracle=L41_ORACLE)
def l41_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank every
    document within its LANGUAGE by language-model score and cut the
    ranking into equal thirds — head feeds high-quality pretraining
    mixes, tail gets dropped or down-weighted. The score is l21's
    exact-integer unigram familiarity (mean corpus frequency of the
    doc's tokens — l21 explains why it ranks identically to mean
    unigram probability while replaying bit-exactly; higher familiarity
    = lower perplexity = head).

    The per-language tercile is the scale-critical part: a dominant
    language is corpus-sized, so the oracle's PARTITION BY lang window
    would funnel it through ONE task. ``exact_ntile_grouped`` computes
    bit-identical bucket membership with every stage parallel:
    range-partition on (lang, -familiarity, doc_id), per-(partition,
    lang) counts to driver metadata, prefix-offset ranks, per-language
    ntile arithmetic. Ties break on doc_id on both engines; the only
    float is one exact integer division both engines round identically."""
    from sparkstreaming_mq_spark.operators.setops import exact_ntile_grouped

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    cf = tok.groupBy("token").agg(F.count("*").alias("cf"))
    scored = (
        tok.join(cf, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("cf").cast("long").alias("sum_cf"),
        )
    )
    # NULL langs would be silently dropped by exact_ntile_grouped's
    # offset equi-join while the oracle's window keeps a NULL partition
    # — exclude them EXPLICITLY on both sides so a future fixture with
    # lang NULLs diverges loudly (row-count) rather than subtly
    fam = scored.join(
        d.select("doc_id", "lang").filter(F.col("lang").isNotNull()), "doc_id"
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("sum_cf").cast("double") / F.col("n_tokens")).alias(
            "familiarity"
        ),
        (-(F.col("sum_cf").cast("double") / F.col("n_tokens"))).alias(
            "__negfam"
        ),
    )
    tiled = exact_ntile_grouped(
        fam, L41_BUCKETS, ["lang"], ["__negfam", "doc_id"]
    )
    bucket = (
        F.when(F.col("__tile") == 0, L41_NAMES[0])
        .when(F.col("__tile") == 1, L41_NAMES[1])
        .otherwise(L41_NAMES[2])
    )
    return tiled.select(
        "doc_id", "lang", "n_tokens", "familiarity", bucket.alias("bucket")
    )


# --- L42: marginal-novelty attribution (ingestion-order data value) -----------

L42_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {L38_NGRAM} + 2, 1)),
           i -> array_to_string(toks[i:i + {L38_NGRAM} - 1], ' ')))) AS ng
  FROM tokd
),
own AS (
  SELECT ng, CAST(min(doc_id) AS BIGINT) AS owner FROM sh GROUP BY ng
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN o.owner = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN o.owner = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         * 10000 // CAST(count(*) AS BIGINT) AS novelty_bp
FROM sh s JOIN own o USING (ng)
GROUP BY s.doc_id
"""


@query("l42_novelty_attribution", oracle=L42_ORACLE)
def l42_novelty_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty attribution: processing docs in ingestion
    (doc_id) order, what fraction of each doc's distinct 8-token
    shingles had never been seen before it arrived? The complement of
    l38's duplication density — l38 says how duplicated a doc is, this
    says WHO contributed the content first (every corpus shingle is
    attributed to exactly its minimum-doc_id owner), which is the
    keeper-priority / data-valuation signal for dedup pipelines and
    crawl-source auditing: sum(n_novel) over docs == |distinct corpus
    shingles|, by construction.

    Same scale shape as l38 (and reworked with it, twice — see l38's
    docstring for both rounds): the fp-keyed aggregate (128-bit
    fingerprints on the exchange, not strings) keeps only min(doc_id)
    — O(1) state per key — because ownership needs nothing else;
    owners roll up to per-doc novel counts, per-doc totals are
    map-side array sizes (zero exchange), and a doc-keyed left join
    of two doc-cardinality frames assembles the result. 10× smoke:
    3.9× → ~2s absolute at 10× (plan-identical to l38; the warm 1×
    denominator is just smaller)."""
    d = load_table(spark, sf_dir, "documents")
    dngs = _distinct_shingle_arrays(d, L38_NGRAM, "doc_id")
    owners = (
        _fingerprinted_postings(dngs, "doc_id")
        .groupBy("fp1", "fp2")
        .agg(F.min("doc_id").alias("owner"))
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("n_novel_raw"))
    )
    # map-side totals: see l38 (same build, same zero-exchange shape)
    totals = dngs.select(
        "doc_id", F.size("_dngs").cast("long").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    return (
        totals.join(owners, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel_raw", F.lit(0)).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("(n_novel * 10000) div n_shingles").alias("novelty_bp"),
        )
    )


# --- L47: shingle-df skew profile (the o18 of the text pipeline) -------------

L47_HOT_PPM = 100_000  # df >= 10% of docs -> "boilerplate tier"


@query(
    "l47_shingle_df_profile",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {L38_NGRAM} + 2, 1)),
           i -> array_to_string(toks[i:i + {L38_NGRAM} - 1], ' ')))) AS ng
  FROM tokd
),
freq AS (
  SELECT ng, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY ng
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM tokd)
SELECT CAST(count(*) AS BIGINT)                         AS n_shingles,
       CAST(sum(df) AS BIGINT)                          AS n_postings,
       CAST(max(df) AS BIGINT)                          AS max_df,
       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_crossdoc,
       CAST(sum(CASE WHEN df * 1000000 >= {L47_HOT_PPM} * nd.n_docs
                     THEN 1 ELSE 0 END) AS BIGINT)      AS n_boilerplate,
       CAST((max(df) * 1000000) // nd.n_docs AS BIGINT) AS max_df_ppm
FROM freq, nd
GROUP BY nd.n_docs
""",
)
def l47_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The o18_skew_profile of the TEXT pipeline: the document-
    frequency distribution of the corpus's 8-token shingles — the
    metadata-cheap pre-flight that tells a dedup run whether its
    fp-keyed exchanges (l38/l42) and LSH bands (l2) face boilerplate
    hot keys BEFORE paying for them. `n_boilerplate` counts shingles
    owned by ≥10% of docs (the planted r10 skew-rung sentence shows
    up here as 13 such shingles); `max_df_ppm` is the single hottest
    shingle's reach in parts-per-million of the corpus — the number
    that decides between the map-side-combinable formulations the
    repo already uses (safe at any df, measured 1.0-1.1× under 20%
    skew) and df-capped "stop-shingle" exclusion when even the
    posting EXPLODE becomes the cost.

    Scale: one NGram map pass (compiled, the interpreted-HOF trap
    documented on `_shingle_postings`), one map-side-combinable df
    aggregate, then a SIX-counter global rollup — the profile frame
    after the first exchange is |distinct shingles|, and output is
    one row. All counters exact integers (ppm in integer math), so
    the oracle is the identical fused form."""
    d = load_table(spark, sf_dir, "documents")
    dngs = _distinct_shingle_arrays(d, L38_NGRAM, "doc_id")
    n_docs = d.count()  # one scalar; the fixture/doc count, not data
    freq = (
        dngs.select(F.explode("_dngs").alias("ng"))
        .groupBy("ng")
        .agg(F.count("*").cast("long").alias("df"))
    )
    prof = freq.agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("df").cast("long").alias("n_postings"),
        F.max("df").cast("long").alias("max_df"),
        F.sum((F.col("df") >= 2).cast("long")).cast("long").alias("n_crossdoc"),
        # BOTH literals cast to BIGINT before the product: at 100×
        # n_docs=500k and 100_000 × 500_000 overflows an INT32 fold
        # under ANSI (the ds8 lesson; caught by this round's 100×
        # rung before the operator ever shipped un-laddered)
        F.sum(
            (
                F.col("df") * F.lit(1_000_000).cast("long")
                >= F.lit(L47_HOT_PPM).cast("long") * F.lit(int(n_docs)).cast("long")
            ).cast("long")
        )
        .cast("long")
        .alias("n_boilerplate"),
        F.expr(f"(max(df) * 1000000) div {n_docs}").cast("long").alias("max_df_ppm"),
    )
    # Degenerate-corpus parity (ADVICE r10): with zero 8-token
    # shingles Spark's global agg still emits one (0, null, ...) row,
    # but the oracle's GROUP BY over the empty freq×nd join emits
    # none — drop the empty-profile row so both engines agree.
    return prof.filter(F.col("n_shingles") > 0)


# ---------------------------------------------------------------------------
# L49: directional shingle containment — near-superset / inclusion pairs.
# ---------------------------------------------------------------------------

L49_DF_CAP = 64         # shingles owned by more docs are boilerplate-tier:
                        # excluded from pair GENERATION (not from the
                        # denominator) — the l47 profile's stop-shingle cut,
                        # baked into the contract on BOTH engines
L49_MIN_SHINGLES = 10   # source docs below this have no stable denominator
L49_MIN_PPM = 700_000   # containment >= 70%

L49_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {L38_NGRAM} + 2, 1)),
           i -> array_to_string(toks[i:i + {L38_NGRAM} - 1], ' ')))) AS ng
  FROM tokd
),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_src FROM sh GROUP BY doc_id
),
keep AS (
  SELECT ng FROM sh GROUP BY ng HAVING count(*) <= {L49_DF_CAP}
),
shared AS (
  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a
  JOIN keep k ON a.ng = k.ng
  JOIN sh b ON b.ng = a.ng AND b.doc_id <> a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.src_doc, s.dst_doc,
       t.n_src AS n_src_shingles,
       s.n_shared,
       s.n_shared * CAST(1000000 AS BIGINT) // t.n_src AS containment_ppm
FROM shared s JOIN tot t ON t.doc_id = s.src_doc
WHERE t.n_src >= {L49_MIN_SHINGLES}
  AND s.n_shared * CAST(1000000 AS BIGINT)
      >= CAST({L49_MIN_PPM} AS BIGINT) * t.n_src
"""


def _l49_pair_partials(batch_iter):
    """Per-partition ordered-pair partials over df-capped shingle
    postings (the a18 numpy-partials shape, r12; group-boundary
    streaming r13): rows arrive hash-partitioned AND sorted by
    (fp1, fp2) — repartition + sortWithinPartitions upstream — so
    every shingle's owner group is complete within the partition and
    CONTIGUOUS in the batch stream. The kernel streams the Arrow
    batches, holding back only the trailing group (<= L49_DF_CAP rows
    by the upstream cap) — input memory is one Arrow batch + one
    group, never the whole partition (VERDICT r12 item 4). Per
    segment, one lexsort orders docs within groups; pair generation is
    vectorized by distinct group size k (<= L49_DF_CAP): all size-k
    groups form an (m, k) doc matrix and ~eye(k) emits every ORDERED
    pair (containment is directional) at C speed. Emission is sliced
    at ~4M pairs; each slice compresses to unique (src, dst, cnt)
    partials, accumulated partials re-compress whenever they exceed
    2x PAIR_SLICE, and a final weighted fold merges slices — kernel
    memory is bounded at max(2x PAIR_SLICE, realized pair space of
    the partition). Replaces the collect_set + double-explode form,
    whose per-key object aggregation was the 100x rung's superlinear
    term (GC churn: 510 s runTime vs 295 s CPU on the pair stage at
    30x with ZERO spill).

    Merge fan-in downstream is O(scan partitions x realized pair
    space) — the same bound the old map-side combine had.
    """
    import numpy as np
    import pandas as pd

    from sparkstreaming_mq_spark.streaming.shard_state import Combiner

    PAIR_SLICE = 4_000_000
    pairs = Combiner(bound=2 * PAIR_SLICE)

    def _process(f1: "np.ndarray", f2: "np.ndarray", dc: "np.ndarray") -> None:
        """Fold one segment of COMPLETE (fp1, fp2) groups into partials."""
        order = np.lexsort((dc, f2, f1))
        f1, f2, dc = f1[order], f2[order], dc[order]
        new_grp = np.ones(len(f1), dtype=bool)
        new_grp[1:] = (f1[1:] != f1[:-1]) | (f2[1:] != f2[:-1])
        starts = np.flatnonzero(new_grp)
        sizes = np.diff(np.append(starts, len(f1)))
        for k in np.unique(sizes):
            if k < 2:
                continue
            k = int(k)
            sel = starts[sizes == k]
            rows_per_grp = k * (k - 1)
            step = max(1, PAIR_SLICE // rows_per_grp)
            iu, ju = np.where(~np.eye(k, dtype=bool))
            for lo in range(0, len(sel), step):
                s = sel[lo : lo + step]
                mat = dc[(s[:, None] + np.arange(k)[None, :]).ravel()].reshape(-1, k)
                pairs.add((mat[:, iu].ravel(), mat[:, ju].ravel()))

    tail = None
    for batch in batch_iter:
        f1 = batch["fp1"].to_numpy(np.int64)
        f2 = batch["fp2"].to_numpy(np.int64)
        dc = batch["doc_id"].to_numpy(np.int64)
        if tail is not None:
            f1 = np.concatenate([tail[0], f1])
            f2 = np.concatenate([tail[1], f2])
            dc = np.concatenate([tail[2], dc])
        if len(f1) == 0:
            continue
        # the holdback below requires (fp1, fp2) lexicographically
        # nondecreasing (sortWithinPartitions upstream) — unsorted input
        # would split owner groups and silently lose pairs: fail loud
        if np.any(
            (f1[1:] < f1[:-1]) | ((f1[1:] == f1[:-1]) & (f2[1:] < f2[:-1]))
        ):
            raise ValueError(
                "_l49_pair_partials requires batches sorted by (fp1, fp2)"
            )
        # hold back the trailing (fp1, fp2) group — it may continue in
        # the next batch
        eq = (f1 == f1[-1]) & (f2 == f2[-1])
        cut = len(f1) - int(eq.sum())
        tail = (f1[cut:], f2[cut:], dc[cut:])
        if cut:
            _process(f1[:cut], f2[:cut], dc[:cut])
    if tail is not None and len(tail[0]):
        _process(*tail)
    folded = pairs.result()
    if folded is not None:
        (src, dst), _, cnt = folded
        yield pd.DataFrame({"src_doc": src, "dst_doc": dst, "cnt": cnt})


@query("l49_containment_pairs", oracle=L49_ORACLE)
def l49_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle CONTAINMENT (Broder's other resemblance
    measure): |S(a) ∩ S(b)| / |S(a)| — the near-SUPERSET detector that
    symmetric Jaccard dedup (l2/l2b) structurally misses. A short doc
    quoted whole inside a long one has containment ≈ 1 while Jaccard
    ≈ |a|/|b| ≈ 0; this is the inclusion/quotation signal a curation
    pipeline uses to drop embedded copies and wrapper pages that
    survive resemblance-based dedup. Emits ordered pairs (src ⊆-ish
    dst) with containment ≥ 70% over ≥ 10 distinct 8-token shingles.

    Scale shape (the l38/l33 lessons composed; pair stage reworked
    r12): a first O(1)-state count pass finds boilerplate shingles
    (df > {L49_DF_CAP}, a SMALL frame — l47's profile measures exactly
    how small), a broadcast LEFT ANTI removes them from the postings,
    and pair generation runs in an Arrow mapInPandas numpy kernel
    (`_l49_pair_partials`) over one (fp1, fp2) exchange — group state
    bounded at df ≤ {L49_DF_CAP} per key by construction, partials
    compressed per partition so the downstream fold is O(partitions ×
    realized pair space). Pair fan-out is ≤ df² ≤ {L49_DF_CAP}² per
    shingle — never corpus-quadratic. (The r11 collect_set +
    double-explode form answered identically but its per-key object
    aggregation went superlinear at the 100× rung with zero spill —
    pure GC/row-machinery, measured r12.) Capped shingles still count in
    the DENOMINATOR (n_src is the doc's full distinct-shingle size,
    map-side from the array — zero exchange), they just can't
    nominate candidates; the oracle applies the identical cap, so the
    contract is engine-exact. The one corpus-sized exchange ships
    128-bit fingerprints, not 8-token strings
    (`_fingerprinted_postings`; collision bound documented there).
    """
    d = load_table(spark, sf_dir, "documents")
    dngs = _distinct_shingle_arrays(d, L38_NGRAM, "doc_id")
    fpost = _fingerprinted_postings(dngs, "doc_id")
    hot = (
        fpost.groupBy("fp1", "fp2")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > L49_DF_CAP)
        .select("fp1", "fp2")
    )
    kept = fpost.join(F.broadcast(hot), ["fp1", "fp2"], "left_anti")
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    shared_partials = (
        kept.repartition(n_shuffle, "fp1", "fp2")
        .sortWithinPartitions("fp1", "fp2")
        .mapInPandas(_l49_pair_partials, schema="src_doc long, dst_doc long, cnt long")
    )
    shared = shared_partials.groupBy("src_doc", "dst_doc").agg(
        F.sum("cnt").cast("long").alias("n_shared")
    )
    totals = dngs.select(
        "doc_id", F.size("_dngs").cast("long").alias("n_src_shingles")
    ).filter(F.col("n_src_shingles") >= L49_MIN_SHINGLES)
    return (
        shared.join(totals, shared.src_doc == totals.doc_id)
        .filter(
            F.col("n_shared") * F.lit(1_000_000).cast("long")
            >= F.lit(L49_MIN_PPM).cast("long") * F.col("n_src_shingles")
        )
        .select(
            "src_doc",
            "dst_doc",
            "n_src_shingles",
            "n_shared",
            F.expr("n_shared * CAST(1000000 AS BIGINT) div n_src_shingles")
            .cast("long")
            .alias("containment_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# L50: prefix-filtered exact set-similarity self-join (PPJoin family).
# ---------------------------------------------------------------------------

L50_T_NUM = 4   # Jaccard threshold 4/5 = 0.8 as an exact rational —
L50_T_DEN = 5   # every filter below is integer cross-multiplication

L50_ORACLE = f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {L38_NGRAM} + 2, 1)),
           i -> array_to_string(toks[i:i + {L38_NGRAM} - 1], ' ')))) AS ng
  FROM tokd
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.ng = b.ng AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b, x.n AS n_a, y.n AS n_b, s.n_shared,
       s.n_shared * CAST(1000000 AS BIGINT) // (x.n + y.n - s.n_shared)
         AS jaccard_ppm
FROM shared s
JOIN sz x ON x.doc_id = s.doc_a
JOIN sz y ON y.doc_id = s.doc_b
WHERE ({L50_T_DEN} + {L50_T_NUM}) * s.n_shared >= {L50_T_NUM} * (x.n + y.n)
"""


@query("l50_prefix_filter_join", oracle=L50_ORACLE)
def l50_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.8 near-duplicate pairs over distinct 8-token
    shingle sets via PREFIX FILTERING (Chaudhuri et al. 2006 SSJoin /
    Xiao et al. 2008 PPJoin) — the third candidate-generation strategy
    of the dedup family, completing the trade-space: l2's banded
    MinHash LSH is probabilistic (recall < 1 by design), l2b's blocked
    broadcast kernel is exact but all-pairs within blocks; prefix
    filtering is exact AND sub-quadratic, with a LOSSLESS candidate
    guarantee instead of a recall bound.

    The lemma (global token order, rarest-first): sort each doc's
    shingles by ascending corpus df; any pair with J >= t MUST share a
    token inside both docs' first n - ceil(t*n) + 1 shingles — if a
    doc's prefix missed every shared token, the shared set would fit
    in the remaining ceil(t*n) - 1 < t*n <= |intersection| slots, a
    contradiction. So candidates = pairs sharing a PREFIX token, plus
    the size filter den*min(n_a,n_b) >= num*max (J >= t bounds the
    size ratio) — both lossless, so the oracle is the plain all-pairs
    shared-count join with the same integer threshold test
    ((den+num)*inter >= num*(n_a+n_b), the exact cross-multiplied
    form of inter/union >= num/den).

    Why rarest-first is the scale story: a token nominates ~df_prefix^2
    candidate pairs, and frequency-ordering pushes exactly the
    boilerplate shingles (l47's hot keys) OUT of prefixes — the hot
    key that costs LSH a banded bucket blowup here simply never
    generates candidates, with no df-cap contract change (capped ops
    like l49 alter the result; the prefix filter provably does not).
    Measured: postings entering the self-join shrink 4.7x (235,704 ->
    50,182 at sf0.1; same ratio at sf0.001) on the CLEAN fixture,
    where the 8-token shingle grain already makes sharing rare (256
    all-pairs -> 249 candidates); the decisive case is the planted
    boilerplate corpus, where each hot shingle's df^2 pair fan-out is
    the blowup — skew-rung numbers in BASELINE.md "Round-11
    additions".

    Plan shape: one fp-keyed exchange builds df; one doc_id window
    ranks each doc's shingles by (df, fp) and keeps the prefix; the
    prefix self-join's fan-out is bounded by prefix-token df^2 (the
    rare end of the distribution); verification counts shared
    128-bit fingerprints per candidate pair through two NARROW
    postings joins — candidate-bounded rows of ~24 B, never the
    docs' full shingle arrays (the first form shipped ~24 KB of
    array per pair and the 30x rung's 2.26M genuine pairs made that
    a 54 GB exchange; see the inline note). Counting on fps carries
    the corpus-standard 2^-128-per-pair collision bound
    (`_fingerprinted_postings`), identical to l38/l42/l49.
    Everything after candidate generation is candidate-bounded, not
    corpus-quadratic.
    """
    d = load_table(spark, sf_dir, "documents")
    dngs = _distinct_shingle_arrays(d, L38_NGRAM, "doc_id")
    docs = dngs.select(
        "doc_id", "_dngs", F.size("_dngs").cast("long").alias("n")
    ).filter(F.col("n") > 0)
    posts = docs.select(
        "doc_id", "n", F.explode("_dngs").alias("ng")
    ).select(
        "doc_id",
        "n",
        F.xxhash64("ng").alias("fp1"),
        F.xxhash64(F.lit("sg-seed2"), F.col("ng")).alias("fp2"),
    )
    dfreq = posts.groupBy("fp1", "fp2").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "fp1", "fp2")
    # prefix length = n - ceil(t*n) + 1; ceil(4n/5) = (4n+4) div 5
    pref = (
        posts.join(dfreq, ["fp1", "fp2"])
        .select(
            "doc_id",
            "n",
            "fp1",
            "fp2",
            F.row_number().over(wdoc).alias("pos"),
        )
        .filter(
            F.col("pos")
            <= F.col("n")
            - F.expr(
                f"(n * {L50_T_NUM} + {L50_T_DEN - 1}) div {L50_T_DEN}"
            )
            + 1
        )
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "fp1", "fp2"
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "fp1", "fp2"
    )
    cand = (
        a.join(b, ["fp1", "fp2"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.lit(L50_T_DEN) * F.least("na", "nb")
                >= F.lit(L50_T_NUM) * F.greatest("na", "nb")
            )
        )
        # na/nb are functionally determined by the doc ids, so keeping
        # them through the distinct saves the size joins later
        .select("doc_a", F.col("na").alias("n_a"), "doc_b", F.col("nb").alias("n_b"))
        .distinct()
    )
    # Verification, candidate-bounded and NARROW: count shared
    # fingerprints per pair via two postings joins. The first measured
    # form shipped both docs' full shingle-string arrays per pair
    # (array_intersect) — ~24 KB per candidate, and the 30x rung's
    # 2.26M genuine pairs turned that into a ~54 GB exchange (778 s).
    # Posting rows are 16-byte fps, so the same verification is
    # Σ|a|-per-candidate rows of ~24 B — ~17x less traffic, measured
    # 778 -> 162 s at the same rung with identical output (2,257,815
    # pairs; wall now tracks the genuinely quadratic cross-copy output). Counting on
    # fps adopts the corpus-standard 2^-128-per-pair collision trade
    # (`_fingerprinted_postings`), same as l38/l42/l49.
    pa = posts.select(F.col("doc_id").alias("doc_a"), "fp1", "fp2")
    pb = posts.select(F.col("doc_id").alias("doc_b"), "fp1", "fp2")
    ver = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "fp1", "fp2"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return ver.filter(
        F.lit(L50_T_DEN + L50_T_NUM) * F.col("n_shared")
        >= F.lit(L50_T_NUM) * (F.col("n_a") + F.col("n_b"))
    ).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_shared",
        F.expr(
            "n_shared * CAST(1000000 AS BIGINT) div (n_a + n_b - n_shared)"
        ).alias("jaccard_ppm"),
    )
