"""LLM-data-pipeline operators (SURVEY.md §2.10 L1-L6 + scale variants).

The north-star extension set (/root/repo/BASELINE.json:6): dedup
(exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding near-dup),
similarity search (exact cosine top-k baseline + LSH-bucketed ANN),
text analysis (stats, quality, lang-id, token counting,
fingerprinting), normalization, and multimodal binary columns. The
reference snapshot has no implementation to cite
(/root/reference/.gitignore:1-2 is the whole repo); semantics follow
the public MinHash/SimHash/LSH literature and the driver fixtures
(FIXTURES.md: ``documents``, ``embeddings``).

Scale design (100 TB bar):
- Exact dedup / fingerprinting: hash-groupBy — one shuffle on a
  64-char digest, map-side partial agg collapses duplicates early.
- MinHash: one explode + one 64-expression grouped MIN (no UDF, no
  per-seed passes); banding turns all-pairs into per-band hash-join
  buckets. Candidate verification touches only bucket collisions.
- SimHash: per-token bit contributions via bitwise ops + grouped sums
  (JVM codegen), band-join on bytes — never a crossJoin.
- Similarity search: top-k against a *bounded* broadcast query set is
  a linear scan (the right baseline); the ANN variant prunes with
  deterministic random-hyperplane buckets.
- Token-postings joins (Jaccard) are quadratic in per-token document
  frequency; the exact operator is the correctness oracle, the LSH
  operator is the scale path.

Every float ratio emitted is rounded; every pair output is normalized
to ``doc_a < doc_b``; every hash seed is a fixed literal (SURVEY.md §7
known-hard list: determinism across partitions).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.tables import load_table, table_rowcount

# Fixed stopword list shared by quality scoring and lang-id.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Marker tokens for the heuristic language ID in l4_text_metrics. Dict
# order is the tie-break priority.
LANG_MARKERS = {
    "en": ("the", "is", "and", "of", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "les", "et", "est", "une"),
}


# --- L1: exact dedup ---------------------------------------------------------

@query(
    "l1_exact_dedup",
    oracle="""
SELECT
  sha256(text)  AS h,
  min(doc_id)   AS keeper,
  count(*)      AS n_copies
FROM documents
GROUP BY sha256(text)
""",
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (byte-identical) dedup: sha2-256 group, deterministic
    min-doc_id keeper. One shuffle on the digest."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


# --- L6: text normalization --------------------------------------------------

@query(
    "l6_normalize",
    oracle="""
SELECT
  doc_id,
  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                      ' +', ' ', 'g')) AS norm_text
FROM documents
""",
)
def l6_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization chain ahead of dedup: lowercase → strip
    non-alphanumerics → collapse whitespace → trim."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " ")
    )
    return d.select("doc_id", norm.alias("norm_text"))


# --- L4: text analysis -------------------------------------------------------

@query(
    "l4b_quality_score",
    oracle=f"""
SELECT
  doc_id,
  len(string_split(text, ' '))  AS n_tokens,
  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')), 4)  AS uniq_ratio,
  round(CAST(len(list_filter(string_split(text, ' '),
                             x -> list_contains([{_STOP_SQL}], x))) AS DOUBLE)
        / len(string_split(text, ' ')), 4)  AS stop_ratio,
  round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS chars_per_tok,
  CAST(len(string_split(text, ' ')) >= 5 AND
   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) > 0.3 AS INTEGER) AS keep
FROM documents
""",
)
def l4b_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, uniqueness ratio,
    stopword ratio, chars-per-token, and a keep/drop filter flag —
    the standard pre-training quality gate, all JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stops = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    uniq_ratio = n_uniq.cast("double") / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(uniq_ratio, 4).alias("uniq_ratio"),
        F.round(n_stop.cast("double") / n_tok, 4).alias("stop_ratio"),
        F.round(F.col("n_chars").cast("double") / n_tok, 4).alias("chars_per_tok"),
        # int, not boolean: the driver canonicalizer has only ever been
        # observed on str/num/timestamp cells (r02), so scalarize flags.
        ((n_tok >= 5) & (uniq_ratio > 0.3)).cast("int").alias("keep"),
    )


# --- L4 combined text analysis (driver-slot query) ----------------------------

def _langid_sql() -> str:
    """DuckDB mirror of the marker-argmax language heuristic."""
    hits = {
        lang: (
            "len(list_filter(string_split(text, ' '), "
            f"x -> list_contains([{', '.join(repr(m) for m in marks)}], x)))"
        )
        for lang, marks in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in LANG_MARKERS:  # dict order = Spark's tie priority
        case += f"WHEN {hits[lang]} = {best} THEN '{lang}' "
    case += "END"
    return f"{case} AS pred_lang, {best} AS n_marker_hits"


def _l4_metrics_oracle() -> str:
    return f"""
SELECT
  doc_id,
  n_chars,
  len(string_split(text, ' '))  AS n_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpeish,
  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')), 4)  AS uniq_ratio,
  round(CAST(len(list_filter(string_split(text, ' '),
                             x -> list_contains([{_STOP_SQL}], x))) AS DOUBLE)
        / len(string_split(text, ' ')), 4)  AS stop_ratio,
  round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS chars_per_tok,
  CAST(len(string_split(text, ' ')) >= 5 AND
   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) > 0.3 AS INTEGER) AS keep,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                          ' +', ' ', 'g'))) AS fingerprint,
  {_langid_sql()}
FROM documents
"""


@query("l4_text_metrics", oracle=_l4_metrics_oracle())
def l4_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document text-analysis panel (L4) in one
    driver-slot scan: stats (char/token counts), quality signals
    (uniqueness/stopword ratios, keep flag), BPE-ish regex token
    count, normalized-text md5 fingerprint, and marker-argmax language
    ID — every column a JVM higher-order/regex/hash expression, zero
    Python."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stops = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    uniq_ratio = n_uniq.cast("double") / n_tok
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " ")
    )

    def marker_pred(marks):
        return lambda x: F.array_contains(marks, x)

    hit_cols = {}
    for lang, markers in LANG_MARKERS.items():
        marks = F.array(*[F.lit(m) for m in markers])
        hit_cols[lang] = F.size(F.filter(toks, marker_pred(marks)))
    best = F.greatest(*hit_cols.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when((hit_cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)

    return d.select(
        "doc_id",
        "n_chars",
        n_tok.alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "n_bpeish"
        ),
        F.round(uniq_ratio, 4).alias("uniq_ratio"),
        F.round(n_stop.cast("double") / n_tok, 4).alias("stop_ratio"),
        F.round(F.col("n_chars").cast("double") / n_tok, 4).alias("chars_per_tok"),
        # int, not boolean: the driver canonicalizer has only ever been
        # observed on str/num/timestamp cells (r02), so scalarize flags.
        ((n_tok >= 5) & (uniq_ratio > 0.3)).cast("int").alias("keep"),
        F.md5(norm).alias("fingerprint"),
        pred.alias("pred_lang"),
        best.alias("n_marker_hits"),
    )


# --- L3: similarity search — exact cosine top-k (baseline) -------------------

TOPK_QUERY_IDS = 5  # vec_id < 5 are the probe vectors
TOPK_K = 10

L3_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {TOPK_QUERY_IDS}
),
scored AS (
  SELECT
    q.query_id,
    e.vec_id AS neighbor_id,
    round(list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS sim
  FROM embeddings e, q
  WHERE e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, sim, rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {TOPK_K}
"""


def cosine_sim(a, b):
    """Cosine similarity of two array<double> columns via JVM
    higher-order functions (zip_with dot product + aggregate norms) —
    no Python boundary."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / (na * nb)


def _brute_topk_kernel(q_ids, q_mat, k):
    """Arrow batch kernel for l3: sims of every corpus row against the
    bounded query matrix, with BATCH-LOCAL top-k pruning.

    Float semantics are BIT-IDENTICAL to the Catalyst higher-order-
    function form this replaced (`cosine_sim`'s left-fold aggregate):
    dot and norm accumulate dimension-by-dimension in index order
    (``acc += x_j * y_j`` — the same IEEE addition sequence as the
    interpreted lambda fold, just vectorized ACROSS rows), norms
    multiply as na*nb (commutative, bitwise-equal either way), then
    one division — so the emitted raw sims equal the old plan's ulp
    for ulp, and the Spark-side round-4 ranking is unchanged. The HOF
    form was the CLAUDE.md N×K-dense trap in action: interpreted
    lambdas cost ~3M steps/s and the 30× smoke measured 22.7 s where
    this kernel runs the same 19M flops in milliseconds.

    Pruning: each batch emits, per query, only rows whose ROUNDED sim
    (HALF_UP emulated in integer 1e-4 quanta) is within ONE quantum of
    the batch's k-th best — a superset of any batch's contribution to
    the global rounded-sim top-k even if the HALF_UP emulation is off
    by an ulp at a .00005 boundary, so the downstream window sees
    every possible winner while the shuffle stays O(batches × Q × k)
    instead of O(N × Q)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        qn = np.zeros(len(q_ids))
        for j in range(q_mat.shape[1]):
            qn += q_mat[:, j] * q_mat[:, j]
        qn = np.sqrt(qn)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            C = np.stack(pdf["ce"].to_numpy()).astype("float64", copy=False)
            n, dim = C.shape
            dots = np.zeros((n, len(q_ids)))
            cn = np.zeros(n)
            for j in range(dim):
                dots += C[:, j : j + 1] * q_mat[None, :, j]
                cn += C[:, j] * C[:, j]
            cn = np.sqrt(cn)
            sims = dots / (qn[None, :] * cn[:, None])
            out_q, out_id, out_sim = [], [], []
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                s = sims[mask, qi]
                nid = ids[mask]
                # HALF_UP round-4 in integer quanta, for SELECTION only
                quanta = np.where(
                    s >= 0, np.floor(s * 1e4 + 0.5), np.ceil(s * 1e4 - 0.5)
                ).astype("int64")
                if len(s) > k:
                    order = np.lexsort((nid, -quanta))
                    kth = quanta[order[k - 1]]
                    keep = quanta >= kth - 1  # one-quantum tie-safety band
                else:
                    keep = np.ones(len(s), dtype=bool)
                out_q.append(np.full(int(keep.sum()), qid, dtype="int64"))
                out_id.append(nid[keep])
                out_sim.append(s[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_id),
                    "sim_raw": np.concatenate(out_sim),
                }
            )

    return kernel


@query("l3_cosine_topk", oracle=L3_ORACLE)
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: a bounded query set against the corpus — a
    linear scan + per-batch top-k heap, the correct brute-force
    baseline at any corpus size. The dense scoring runs in a
    vectorized Arrow/numpy kernel (`_brute_topk_kernel` — the
    repo-wide rule that dense N×K work never runs as interpreted
    Catalyst lambdas; output verified bit-equal to the old HOF plan at
    all three sfs), the query matrix is a driver literal bounded by
    TOPK_QUERY_IDS (the centroid-literal pattern), and each scan batch
    pre-prunes to its local top-k so the final window ranks
    O(batches × Q × k) candidate rows, not N × Q. Ranking uses the
    ROUNDED similarity (+ id tiebreak) so float noise below 1e-4
    can't flip neighbor order between engines."""
    import numpy as np

    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    # bounded: < TOPK_QUERY_IDS rows by construction, so they are sorted
    # here; an orderBy would add a range-sort sample job and an exchange
    q_rows = sorted(
        e.filter(F.col("vec_id") < TOPK_QUERY_IDS)
        .select("vec_id", emb_d.alias("qe"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype="int64")
    q_mat = np.array([r["qe"] for r in q_rows], dtype="float64")
    scored = e.select("vec_id", emb_d.alias("ce")).mapInPandas(
        _brute_topk_kernel(q_ids, q_mat, TOPK_K),
        schema="query_id long, neighbor_id long, sim_raw double",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id", "neighbor_id", F.round("sim_raw", 4).alias("sim")
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_K)
    )


# --- L2b: exact n-gram (token-set) Jaccard near-dup --------------------------

JACCARD_THRESHOLD = 0.5


def _jaccard_oracle(threshold: float) -> str:
    """Exact token-set-Jaccard pair SQL (DuckDB postings formulation)
    at the given threshold — shared by l2b (0.5) and l2 (0.8; valid
    because at the gate's scale both take the exact kernel path)."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token FROM documents
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jac
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {threshold}
"""


L2B_ORACLE = _jaccard_oracle(JACCARD_THRESHOLD)


# Above this corpus size the broadcast nested-loop kernel is no longer
# SAFE (the broadcast side must fit executor memory) — a hard memory
# bound, not the cost decision. Below it the choice between the exact
# kernel and LSH banding is made by ``_neardup_strategy``'s sampled
# compute estimate (see constants there).
L2B_MAX_BROADCAST_DOCS = 1_000_000


@query("l2b_ngram_jaccard", oracle=L2B_ORACLE)
def l2b_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs.

    When ``_neardup_strategy`` estimates brute force cheaper (dense or
    small corpora): blocked broadcast nested-loop — the token-set table
    broadcasts, every pair in a partition-block is scored with the
    bitmap/array Jaccard kernel — zero shuffles, pure
    whole-stage-codegen compute. Measured 8× faster than the
    token-postings self-join on this corpus (tiny vocabulary →
    pathological posting lists).

    Carries a FULL value-hash oracle, so ``exact_required=True``: the
    exact kernel runs unconditionally below the broadcast memory cliff
    (L2B_MAX_BROADCAST_DOCS) — the cost model never flips this query to
    the ~0.8%-false-negative banded path on a low-density fixture. Past
    the cliff (no oracle runs at that size) ``_lsh_candidate_pairs``
    provides banded-MinHash blocks and the same kernel verifies within
    blocks — the documented scale trade. The DuckDB oracle keeps the
    postings formulation — same semantics, each engine in its best
    physical shape."""
    d = load_table(spark, sf_dir, "documents")
    return _neardup_pairs(
        d, JACCARD_THRESHOLD, n_docs=table_rowcount(sf_dir, "documents"), exact_required=True
    )


def _jaccard_allpairs_kernel(ids, mat, threshold: float):
    """Exact all-pairs Jaccard: every (a, b) with a < b and
    jac >= threshold over one corpus matrix. Thin wrapper over
    ``_jaccard_matrix_kernel`` with probe == corpus (r15; the r14
    all-pairs kernel generalized so l34's batch-vs-corpus probe shares
    the arithmetic)."""
    return _jaccard_matrix_kernel(ids, mat, ids, mat, threshold, lt_only=True)


def _jaccard_matrix_kernel(probe_ids, probe_mat, corp_ids, corp_mat, threshold: float, lt_only: bool):
    """mapInPandas kernel for exact Jaccard of probe rows against a
    corpus bitmap matrix shipped as a task literal (the l3
    query-matrix pattern). Probe partitions carry only ``pos`` — an
    int64 position into ``probe_ids``/``probe_mat`` — so the probe
    frame can be a bare ``spark.range`` (native source, no driver
    serialization, no exchange; the createDataFrame(pandas) probe
    measured 0.57 s vs range's ~0 at sf0.1). Emits
    (doc_a, doc_b, jac_raw) for every pair with jac >= threshold —
    additionally doc_a < doc_b when ``lt_only`` (the symmetric
    all-pairs dedup), every pair otherwise (asymmetric batch-vs-corpus,
    probe and corpus disjoint).

    Exactness: intersections are computed as a float32 BLAS matmul of
    the unpacked 0/1 bit-planes — sums of ≤ 64·w ones, exactly
    representable in float32 far below its 2^24 integer bound, so the
    counts are the same integers the Catalyst ``bit_count`` expression
    produced (a popcount-lookup first cut of this kernel measured
    ~10.7 s/task of byte-gather on the 10× rung; the matmul form hands
    the same arithmetic to BLAS). Union comes from exact per-row
    popcounts; the division is the identical int→float64 IEEE divide,
    so every emitted double is bit-equal to the HOF form's (round-4
    stays Spark-side, never in pandas). Blocked over the corpus axis so
    the intersection slab stays tens of MB regardless of corpus size."""
    PROBE_BLK = 1024

    def kernel(batches):
        import numpy as np
        import pandas as pd

        pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)

        def pc(x):  # uint64 (..., w) -> int64 (...): popcount summed over words
            return pop8[x.view(np.uint8)].sum(axis=-1, dtype=np.int64)

        def bits_f32(x):  # uint64 (m, w) -> float32 (m, 64*w) 0/1 bit-planes
            return np.unpackbits(
                np.ascontiguousarray(x).view(np.uint8), axis=1
            ).astype(np.float32)

        B = corp_mat  # (n, w) uint64
        n, w = B.shape
        popb = pc(B)
        # corpus bit-planes are unpacked per block (never the whole
        # matrix: 64w·4 bytes/doc would be 4 GB at the 1M-doc cliff);
        # slab sizes stay ~tens of MB at any corpus size
        corp_blk = max(1024, (32 << 20) // (4 * PROBE_BLK))
        for pdf in batches:
            if not len(pdf):
                continue
            all_pos = pdf["pos"].to_numpy(np.int64)
            # probe rows are positions into the task-literal arrays —
            # the probe frame ships 8 bytes/row and no lookup is needed
            all_ids = probe_ids[all_pos]
            A_all = probe_mat[all_pos]
            for alo in range(0, len(all_ids), PROBE_BLK):
                a_ids = all_ids[alo : alo + PROBE_BLK]
                popa = pc(A_all[alo : alo + PROBE_BLK])
                Abits = bits_f32(A_all[alo : alo + PROBE_BLK])
                out_a, out_b, out_j = [], [], []
                for lo in range(0, n, corp_blk):
                    b_ids = corp_ids[lo : lo + corp_blk]
                    # exact: 0/1 dot products ≤ 64w << 2^24
                    inter = (Abits @ bits_f32(B[lo : lo + corp_blk]).T).astype(
                        np.int64
                    )
                    union = popa[:, None] + popb[lo : lo + corp_blk][None, :] - inter
                    with np.errstate(divide="ignore", invalid="ignore"):
                        jac = inter / union
                    # union == 0 (two empty bitmaps) is unreachable with
                    # the current repr (every repr doc has ≥1 token bit
                    # set); if a future repr admits empty bitmaps, the
                    # NaN here is silently excluded by the >= compare —
                    # a deliberate choice, NOT parity with the Catalyst
                    # form (ANSI inter/union raises DIVIDE_BY_ZERO there)
                    mask = jac >= threshold
                    if lt_only:
                        mask &= a_ids[:, None] < b_ids[None, :]
                    ii, jj = np.nonzero(mask)
                    if len(ii):
                        out_a.append(a_ids[ii])
                        out_b.append(b_ids[jj])
                        out_j.append(jac[ii, jj])
                if out_a:
                    yield pd.DataFrame(
                        {
                            "doc_a": np.concatenate(out_a),
                            "doc_b": np.concatenate(out_b),
                            "jac_raw": np.concatenate(out_j),
                        }
                    )

    return kernel


def _collect_bitmap_matrix(repr_df: DataFrame):
    """Collect the (doc_id, jr) bitmap representation to the driver as
    sorted numpy arrays (ids int64 ascending, mat uint64) via ONE Arrow
    collect. r15: the r14 form paid an eager localCheckpoint job PLUS a
    Row-object collect (~1M pyspark Rows each holding a 16-element
    Python list at the cliff — several GB of object overhead, vs the
    ~128 MB the raw matrix is); the Arrow path materializes the frame
    exactly once and lands near raw-matrix driver memory."""
    import numpy as np

    spark = repr_df.sparkSession
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        pdf = repr_df.toPandas()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    ids = pdf["doc_id"].to_numpy(np.int64)
    if len(ids) == 0:
        return ids, np.zeros((0, 1), dtype=np.uint64)
    mat = np.ascontiguousarray(
        np.stack(pdf["jr"].to_numpy()).astype(np.int64, copy=False)
    ).view(np.uint64)
    order = np.argsort(ids, kind="stable")
    return ids[order], mat[order]


def _probe_pos_frame(spark, n: int, n_parts: int) -> DataFrame:
    """Probe frame for the Jaccard matrix kernels: positions 0..n-1
    into the task-literal probe arrays, as a bare ``spark.range`` cut
    into n_parts contiguous chunks. Native source — no driver
    serialization, no exchange in the plan — and the explicit
    numPartitions is LOAD-BEARING: AQE cannot see that each probe row
    carries O(corpus) kernel compute, so the even n_parts split is
    what parallelizes the pair scoring (probed r14/r15: the
    checkpointed repr coalesced to 1 partition; a
    createDataFrame(pandas).repartition probe cost 0.57 s of fixed
    driver/exchange work at sf0.1 vs ~0.1 s for this)."""
    return spark.range(0, n, 1, numPartitions=n_parts).toDF("pos")


def _broadcast_jaccard_pairs(d: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs Jaccard, blocked against a task-resident corpus
    table. Caller is responsible for the corpus-size boundary
    (L2B_MAX_BROADCAST_DOCS): the corpus representation must fit
    executor memory (the same bound the broadcast relation had).

    Bitmap-representable corpora (vocab ≤ MAX_BITMAP_VOCAB) score in
    the vectorized Arrow/numpy popcount kernel — the repo-wide rule
    that dense N×K work never runs as interpreted Catalyst lambdas
    (guide §4 / the l3 lesson: the previous crossJoin +
    zip_with/aggregate form evaluated every pair's bitmap words through
    interpreted higher-order functions; r14 profile charged it ~20 s of
    CPU on sf0.1's 12.5M pairs, and the l51 10× rung 96% of its 185 s
    wall). The corpus matrix rides the task closure exactly like l3's
    query matrix — at the 1M-doc cliff that is ≤128 MB, the same bytes
    the broadcast hash relation held. Sparse-vocab corpora (ragged
    token arrays, no fixed-width matrix) keep the broadcast
    nested-loop + HOF form."""
    repr_df, jac_fn, is_bitmap = _jaccard_repr_modes(d)
    n_parts = max(2, (d.sparkSession.sparkContext.defaultParallelism or 8) * 2)
    if is_bitmap:
        # ONE materialization serves everything (r15): the Arrow
        # collect builds the driver matrix, the probe frame is the id
        # vector parallelized back out, and the kernel looks each probe
        # row's bitmap up from the task-literal matrix — the r14 form
        # paid an eager checkpoint job AND a Row-object collect of the
        # same frame back-to-back (its ~0.3 s local fixed cost, the
        # suite's one >10% regression in PERF_r14).
        ids, mat = _collect_bitmap_matrix(repr_df)
        scored = _probe_pos_frame(d.sparkSession, len(ids), n_parts).mapInPandas(
            _jaccard_allpairs_kernel(ids, mat, threshold),
            schema="doc_a long, doc_b long, jac_raw double",
        )
        return scored.select("doc_a", "doc_b", F.round("jac_raw", 4).alias("jac"))
    a = repr_df.select(F.col("doc_id").alias("doc_a"), F.col("jr").alias("ja"))
    b = repr_df.select(F.col("doc_id").alias("doc_b"), F.col("jr").alias("jb"))
    jac = jac_fn(F.col("ja"), F.col("jb"))
    return (
        a.repartition(n_parts)
        .crossJoin(F.broadcast(b))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jac"))
    )


# --- L2: MinHash + LSH banding near-dup (the 100 TB dedup path) --------------

MINHASH_PERMS = 60
LSH_BANDS = 12  # 12 bands × 5 rows → P(candidate | j=0.8) ≈ 0.992
MINHASH_THRESHOLD = 0.8


def _token_sets(d: DataFrame) -> DataFrame:
    return d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))


# Exact-Jaccard representation, chosen adaptively: when the corpus
# vocabulary fits in a few machine words, a token set is an array of
# long bitmaps and Jaccard is bit_count(AND)/bit_count(OR) — pure
# codegen integer arithmetic, ~10× cheaper than string-array
# intersect/union (measured: the array verify dominated the whole LSH
# pipeline). Large vocabularies fall back to the sparse token arrays.
MAX_BITMAP_VOCAB = 1024


def _jaccard_repr(d: DataFrame):
    """(repr_df(doc_id, jr), jac(a, b) -> Column) for exact Jaccard.

    ``jr`` is either an array<long> bitmap over a collected vocabulary
    (small vocabs) or the distinct token array (fallback); ``jac``
    computes the exact Jaccard similarity between two ``jr`` values.
    """
    repr_df, jac_fn, _ = _jaccard_repr_modes(d)
    return repr_df, jac_fn


def _jaccard_repr_modes(d: DataFrame):
    """``_jaccard_repr`` plus an ``is_bitmap`` flag: True when ``jr``
    is the fixed-width array<long> bitmap (vocab ≤ MAX_BITMAP_VOCAB),
    which is the representation the vectorized all-pairs popcount
    kernel (``_jaccard_allpairs_kernel``) can consume."""
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
    # LIMIT before collect: pull at most MAX_BITMAP_VOCAB+1 tokens to the
    # driver. On a 100 TB corpus the full distinct vocabulary is unbounded;
    # seeing one-past-the-cap is enough to take the sparse-array fallback.
    vocab_rows = tok.select("token").distinct().limit(MAX_BITMAP_VOCAB + 1).collect()
    vocab = sorted(r.token for r in vocab_rows)
    if 0 < len(vocab) <= MAX_BITMAP_VOCAB:
        n_words = (len(vocab) + 63) // 64
        # token → bit position. Two forms, picked by vocab size (r15):
        # array_position over the vocab literal is O(|vocab|) string
        # compares per token row — fine for a single-word vocab (≤64
        # compares, pure codegen, no extra job) but it embeds the whole
        # vocabulary in the plan and scales linearly with it; past one
        # word, a broadcast-joined assignment table makes the probe
        # O(1) per token at a fixed ~0.5 s broadcast cost (measured
        # sf0.1: join 0.78 s vs array_position 0.35 s at |vocab|=31 —
        # the fixed cost only pays for itself on multi-word vocabs).
        # Inner join drops nothing — the vocab IS the full distinct
        # token set whenever this branch runs. tid matches
        # (array_position - 1): 0-based rank in the sorted vocab.
        if len(vocab) <= 64:
            vocab_arr = F.array(*[F.lit(t) for t in vocab])
            with_bits = tok.select(
                "doc_id",
                (F.array_position(vocab_arr, F.col("token")) - 1)
                .cast("int")
                .alias("tid"),
            )
        else:
            tid_df = d.sparkSession.createDataFrame(
                [(t, i) for i, t in enumerate(vocab)], schema="token string, tid int"
            )
            with_bits = tok.join(F.broadcast(tid_df), "token").select("doc_id", "tid")
        word_cols = [
            F.bit_or(
                F.when(
                    (F.col("tid") / 64).cast("int") == wi,
                    F.expr("shiftleft(CAST(1 AS BIGINT), pmod(tid, 64))"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias(f"w{wi}")
            for wi in range(n_words)
        ]
        repr_df = (
            with_bits.groupBy("doc_id")
            .agg(*word_cols)
            .select("doc_id", F.array(*[f"w{wi}" for wi in range(n_words)]).alias("jr"))
        )

        def jac(a, b):
            inter = F.aggregate(
                F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
                F.lit(0),
                lambda s, x: s + x,
            )
            union = F.aggregate(
                F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseOR(y))),
                F.lit(0),
                lambda s, x: s + x,
            )
            return inter.cast("double") / union

        return repr_df, jac, True

    repr_df = _token_sets(d).withColumnRenamed("toks", "jr")

    def jac(a, b):
        inter = F.size(F.array_intersect(a, b))
        union = F.size(F.array_union(a, b))
        return inter.cast("double") / union

    return repr_df, jac, False


def _band_hashes(d: DataFrame) -> DataFrame:
    """(doc_id, band, bh) banded-MinHash table — the LSH blocking key.

    One explode to token postings; 60 grouped MINs of
    ``xxhash64(token, seed)`` build the signature (single shuffle, no
    UDF, fixed integer seeds → deterministic across partitions); 12
    band hashes over 5-row slices; explode to (band, band_hash).
    Shared by ``_lsh_candidate_pairs`` (the blocking join) and the
    sampled collision estimator in the l2 cost model.
    """
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
    sig = tok.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("token"), F.lit(i))).alias(f"mh{i}")
            for i in range(MINHASH_PERMS)
        ]
    )
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                        F.lit(b),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band", "bh"),
    )


def _lsh_candidate_pairs(d: DataFrame) -> DataFrame:
    """Banded-MinHash candidate pairs (doc_a, doc_b), distinct.

    Self-join of ``_band_hashes`` on (band, bh) → pairs only where a
    band collides — never an all-pairs product. Shared block generator
    for l2 (LSH near-dup) and l2b's large-corpus path.
    """
    bands = _band_hashes(d)
    a = bands.alias("a")
    b = bands.alias("b")
    # A pair is emitted once per colliding band; the narrow
    # (doc_a, doc_b) projection + map-side partial dedup keep the
    # distinct exchange bounded by the candidate count. (A per-row
    # first-collision-band filter was measured SLOWER than distinct —
    # carrying band-hash arrays through the join costs more than the
    # long-pair shuffle it saves.)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# Above this corpus size the exact-verify representation no longer fits
# a broadcast (it is corpus-sized); the verify joins fall back to
# shuffle hash joins on the pair keys. Separate knob from
# L2B_MAX_BROADCAST_DOCS: that one bounds the *all-pairs kernel*, this
# one bounds the *verify-side broadcast* on the banded path.
VERIFY_MAX_BROADCAST_DOCS = 5_000_000


def _verify_pairs(
    d: DataFrame, cands: DataFrame, threshold: float, n_docs: int | None = None
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs.

    Below ``VERIFY_MAX_BROADCAST_DOCS`` the corpus-sized verification
    representation broadcasts (small next to the pair count; pairs never
    shuffle). Past the bound — the true 100 TB regime, where a
    corpus-sized broadcast is an executor OOM — both verify joins run
    as shuffle hash joins keyed on doc_a/doc_b instead: the pair table
    shuffles twice, but every side is hash-partitioned and bounded, and
    recall is unchanged (same exact kernel either way).
    """
    repr_df, jac_fn = _jaccard_repr(d)
    ra = repr_df.select(F.col("doc_id").alias("doc_a"), F.col("jr").alias("ja"))
    rb = repr_df.select(F.col("doc_id").alias("doc_b"), F.col("jr").alias("jb"))
    jac = jac_fn(F.col("ja"), F.col("jb"))
    if n_docs is None:
        n_docs = d.count()
    if n_docs > VERIFY_MAX_BROADCAST_DOCS:
        joined = cands.join(ra.hint("shuffle_hash"), "doc_a").join(
            rb.hint("shuffle_hash"), "doc_b"
        )
    else:
        joined = cands.join(F.broadcast(ra), "doc_a").join(F.broadcast(rb), "doc_b")
    return (
        joined.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jac"))
    )


@query("l2_minhash_lsh", oracle=_jaccard_oracle(MINHASH_THRESHOLD))
def l2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair detection at j≥0.8.

    Carries a FULL value-hash oracle (and l8/l37 build their cluster
    graphs from these pairs), so ``exact_required=True``: below the
    broadcast memory cliff (L2B_MAX_BROADCAST_DOCS) the blocked
    broadcast bitmap kernel runs unconditionally — EXACT (recall 1.0),
    and on the dense fixture corpus (24% true-dup density) also the
    cheaper plan (LSH would generate ~27M candidate rows against
    ~12.5M total pairs). The data-dependent ``_neardup_strategy`` cost
    switch still serves callers without exact oracles; letting it pick
    the ~0.8%-false-negative banded path under a full oracle was the
    r5-advice hazard this flag closes.

    Past the cliff — the real 100 TB regime, where a corpus-sized
    broadcast is an executor OOM and no oracle is runnable — banded
    MinHash LSH takes over: candidate pairs from
    ``_lsh_candidate_pairs`` (band collisions only; 5-row bands chosen
    over 4-row: ~5× fewer false candidates on a dense corpus for a
    ~0.8% false-negative rate at j=0.8), then exact Jaccard
    verification on candidates. Never an all-pairs product. Pytest
    forces the banded path explicitly and checks its recall against
    the exact kernel.
    """
    d = load_table(spark, sf_dir, "documents")
    return _neardup_pairs(
        d, MINHASH_THRESHOLD, n_docs=table_rowcount(sf_dir, "documents"), exact_required=True
    )


# Compute-aware strategy constants (the r4 critique: the single 1M-doc
# memory cliff made the exact n²/2 kernel the default for every corpus
# under 1M docs, including low-density ones where it evaluates ~5×10¹¹
# pairs for a handful of dups — hours of codegen the banded path avoids).
#
# Below L2_EXACT_SMALL_DOCS the exact kernel is unconditionally cheaper
# than even *estimating* the banded cost (n²/2 ≤ 33M codegen pair evals,
# sub-second), so no sampling job runs — driver fixtures (≤5k docs) keep
# byte-identical plans and the exact-recall oracle. Between the small
# bound and the broadcast cliff, a sampled band-collision estimate picks
# the cheaper plan; past the cliff the broadcast side can't fit executor
# memory and banding is the only option regardless of cost.
L2_EXACT_SMALL_DOCS = 8_192
L2_COST_SAMPLE_DOCS = 1_024
# Pair-kernel-equivalents charged per doc for building the MinHash
# signature + band table (60 hash-mins over the token postings plus the
# band shuffle — dominated by tokens/doc × perms; 200 is deliberately
# generous so ties break toward the exact kernel, whose recall is 1.0).
L2_SIG_COST_FACTOR = 200


def _estimate_band_collision_rows(d: DataFrame, n_docs: int) -> float:
    """Estimated band-collision rows (the LSH join's output size, the
    dominant banded-path cost) from a deterministic sample.

    Samples the ``L2_COST_SAMPLE_DOCS`` docs with smallest
    xxhash64(doc_id) — TakeOrdered, per-partition top-k, no full sort —
    builds their band hashes, counts C(cnt, 2) per (band, bh) bucket,
    and scales by (n/s)² (collision rows are pairwise, and a hash-order
    sample is uniform). One tiny job over ≤1k docs."""
    s = min(n_docs, L2_COST_SAMPLE_DOCS)
    sample = d.select("doc_id", "text").orderBy(F.xxhash64("doc_id")).limit(s)
    row = (
        _band_hashes(sample)
        .groupBy("band", "bh")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("c"))
        .collect()[0]
    )
    return float(row["c"] or 0.0) * (n_docs / s) ** 2


def _neardup_strategy(d: DataFrame, n_docs: int) -> str:
    """'exact' (blocked broadcast bitmap kernel) or 'banded' (LSH
    blocks + exact verify), chosen by estimated compute, not just
    memory fit:

    - n ≤ L2_EXACT_SMALL_DOCS → exact, unconditionally (cheaper than
      estimating).
    - n > L2B_MAX_BROADCAST_DOCS → banded (broadcast cannot fit; a
      memory bound, not a preference).
    - otherwise → compare n²/2 exact pair evals against
      SIG_COST·n + estimated band-collision rows from a sampled
      band-bucket histogram. Dense corpora (fixture: ~0.7 pair density,
      where banding emits MORE rows than brute force scores) stay
      exact; low-density corpora past ~10⁴ docs go banded.
    """
    if n_docs > L2B_MAX_BROADCAST_DOCS:
        return "banded"
    if n_docs <= L2_EXACT_SMALL_DOCS:
        return "exact"
    exact_work = n_docs * n_docs / 2
    banded_work = L2_SIG_COST_FACTOR * n_docs + _estimate_band_collision_rows(d, n_docs)
    return "banded" if banded_work < exact_work else "exact"


def _neardup_pairs(
    d: DataFrame,
    threshold: float,
    n_docs: int | None = None,
    exact_required: bool = False,
) -> DataFrame:
    """Cost-based near-dup pair strategy shared by l2/l2b/l9/l37:
    banded LSH + verify when ``_neardup_strategy`` estimates it cheaper
    (or broadcast can't fit), exact broadcast bitmap kernel otherwise.

    ``n_docs``: pre-known corpus size (parquet-footer statistics via
    ``tables.table_rowcount``, or any upper bound). Passing it avoids a
    full ``d.count()`` scan per invocation just to pick the strategy.
    For the cost-based choice an upper bound is safe (it can only push
    toward the banded path, which is *correct* at any size) — but NOT
    for ``exact_required``'s cliff check, where banded means a silent
    ~0.8% recall loss under a full value-hash oracle. There, an upper
    bound that exceeds the cliff triggers one exact ``count()`` of the
    actual frame before banding is allowed (see below).

    ``exact_required``: set by every caller whose result feeds a FULL
    value-hash oracle (l2/l2b and, via their pairs, l8/l9/l37). The
    banded path's ~0.8% false-negative rate is a fine scale trade but
    silently fails an exact DuckDB oracle, and the cost model's choice
    is data-dependent — a future driver fixture with 8k–1M low-density
    docs would flip to banded and hash-mismatch. With the flag, the
    exact kernel is used unconditionally below the broadcast memory
    cliff (``L2B_MAX_BROADCAST_DOCS``); past the cliff exact is
    physically impossible (broadcast OOM) and the banded path runs —
    at that scale no oracle is runnable anyway, and the recall caveat
    is the documented contract."""
    if n_docs is None:
        n_docs = d.count()
    if exact_required:
        if n_docs > L2B_MAX_BROADCAST_DOCS:
            # Callers pass footer counts of the UNFILTERED table as an
            # upper bound (e.g. l9's survivor set); an over-estimate
            # must not route a full-oracle query onto the banded path.
            # One exact count of the frame actually being paired
            # decides the cliff for real.
            n_docs = d.count()
        if n_docs <= L2B_MAX_BROADCAST_DOCS:
            return _broadcast_jaccard_pairs(d, threshold)
    if _neardup_strategy(d, n_docs) == "banded":
        return _verify_pairs(d, _lsh_candidate_pairs(d), threshold, n_docs=n_docs)
    return _broadcast_jaccard_pairs(d, threshold)


# --- L2c: SimHash near-dup ----------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 6
SIMHASH_BANDS = 4

# 32-bit token hash BOTH engines compute identically: the first 8 md5
# nibbles as an integer. (xxhash64 would be faster Spark-side but has
# no DuckDB twin — this buys the oracle exactness.)
_HEXD = "0123456789abcdef"
_L2C_TOKHASH_SQL = " + ".join(
    f"(strpos('{_HEXD}', substring(md5(token), {i}, 1)) - 1) * {16 ** (8 - i)}::BIGINT"
    for i in range(1, 9)
)
_L2C_SIMHASH_SQL = "\n       + ".join(
    f"(CASE WHEN sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
    f" THEN {1 << j}::BIGINT ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)
_L2C_BAND_SQL = " OR ".join(
    f"((a.simhash >> {8 * t}) & 255) = ((b.simhash >> {8 * t}) & 255)"
    for t in range(SIMHASH_BANDS)
)

L2C_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
h AS (
  SELECT doc_id, {_L2C_TOKHASH_SQL} AS th FROM tok
),
sig AS (
  SELECT doc_id, {_L2C_SIMHASH_SQL} AS simhash
  FROM h GROUP BY doc_id
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({_L2C_BAND_SQL})
  AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


@query("l2c_simhash", oracle=L2C_ORACLE)
def l2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: per-token 32-bit hash, per-bit ±1 grouped
    sums → sign bits → one integer fingerprint per doc; candidate
    pairs share one of four 8-bit bands; keep pairs with Hamming
    distance ≤ 6. All bitwise JVM expressions, one shuffle for the
    signature, band self-join for candidates. The oracle replays the
    identical hash + banding in DuckDB (all-pairs at gate scale), so
    the check is exact — banding recall loss is part of the semantics
    on both sides."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    per_bit = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(h.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    sigs = per_bit.select("doc_id", simhash.cast("long").alias("simhash"))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.shiftright("simhash", 8 * t).bitwiseAND(F.lit(255)).alias("bv"),
                    )
                    for t in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# --- L53: perceptual-hash near-dup over the binary media payload --------------

# Average-hash (aHash) over the opaque BinaryType payload: 48 byte
# stripes, bit j = 1 iff stripe-j byte sum * 48 >= whole-payload byte
# sum — the integer-exact form of "stripe brighter than average", the
# classic perceptual-hash structure applied to the fixture's utf-8
# payload (the corpus is pure ASCII, so byte slicing == char slicing
# and the DuckDB oracle can replay the hash per-character; a real
# image corpus would put decoded luma bytes in the same column). 48
# bits (not 64) keeps every shift/accumulate in non-negative BIGINT
# range on both engines — no sign-bit special case anywhere.
PHASH_STRIPES = 48
PHASH_BANDS = 4
PHASH_BAND_BITS = PHASH_STRIPES // PHASH_BANDS  # 12-bit bands
PHASH_MAX_HAMMING = 4


def _ahash_kernel(pdf):
    """(doc_id, text) pandas batch -> (doc_id, phash int64) — the
    Arrow-side aHash: one concatenated byte buffer, per-stripe sums
    via add.reduceat over vectorized ceil-boundaries, bits compared in
    exact int64. Spark-free (unit-tested with plain pandas batches).
    Short payloads (len < stripes) leave trailing stripes empty; the
    seg-length mask zeroes them (fixture min length 48 never hits it,
    the mask keeps the kernel total)."""
    import numpy as np
    import pandas as pd

    texts = pdf["text"].tolist()
    if not texts:
        return pd.DataFrame({"doc_id": [], "phash": []})
    lens = np.array([len(t) for t in texts], dtype=np.int64)
    blob = np.frombuffer(
        "".join(texts).encode("utf-8"), dtype=np.uint8
    ).astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    j = np.arange(PHASH_STRIPES, dtype=np.int64)
    # stripe j of doc i covers chars [ceil(j*L/S), ceil((j+1)*L/S))
    starts = offs[:-1, None] + (j[None, :] * lens[:, None] + PHASH_STRIPES - 1) // PHASH_STRIPES
    flat = starts.ravel()
    nxt = np.append(flat[1:], len(blob))
    seg_len = nxt - flat
    sums = np.add.reduceat(blob, np.minimum(flat, len(blob) - 1))
    sums = np.where(seg_len > 0, sums, 0).reshape(len(texts), PHASH_STRIPES)
    total = sums.sum(axis=1)
    bits = (sums * PHASH_STRIPES >= total[:, None]).astype(np.int64)
    phash = (bits << j[None, :]).sum(axis=1)
    return pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(np.int64), "phash": phash})


_L53_STRIPE_SUM_SQL = f"""
ch AS (
  SELECT doc_id,
         unnest(range(0, length(text))) AS i
  FROM documents
),
sc AS (
  SELECT c.doc_id,
         (c.i * {PHASH_STRIPES}) // length(d.text) AS stripe,
         CAST(ascii(substring(d.text, c.i + 1, 1)) AS BIGINT) AS code
  FROM ch c JOIN documents d USING (doc_id)
),
ss AS (
  SELECT doc_id, stripe, CAST(sum(code) AS BIGINT) AS ssum
  FROM sc GROUP BY doc_id, stripe
),
tot AS (
  SELECT doc_id, CAST(sum(ssum) AS BIGINT) AS total FROM ss GROUP BY doc_id
),
sig AS (
  SELECT ss.doc_id,
         CAST(sum(CASE WHEN ss.ssum * {PHASH_STRIPES} >= tot.total
                  THEN (CAST(1 AS BIGINT) << ss.stripe) ELSE 0 END)
           AS BIGINT) AS phash
  FROM ss JOIN tot USING (doc_id)
  GROUP BY ss.doc_id
)"""

_L53_BAND_SQL = " OR ".join(
    f"((a.phash >> {PHASH_BAND_BITS * t}) & {(1 << PHASH_BAND_BITS) - 1})"
    f" = ((b.phash >> {PHASH_BAND_BITS * t}) & {(1 << PHASH_BAND_BITS) - 1})"
    for t in range(PHASH_BANDS)
)

L53_ORACLE = f"""
WITH {_L53_STRIPE_SUM_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({_L53_BAND_SQL})
  AND bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""


@query("l53_phash_neardup", oracle=L53_ORACLE)
def l53_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup via perceptual hash: the media column's
    bytes collapse to one 48-bit average-hash per doc (an Arrow
    mapInPandas numpy kernel — the payload crosses to Python once,
    vectorized, never per-row Python), then candidates come from a
    4×12-bit band self-join (the l2c blocking shape) and survive at
    Hamming ≤ {PHASH_MAX_HAMMING}. This is image/audio dedup
    machinery in engine form: pHash/aHash fingerprints, banded
    blocking, Hamming verify — on the fixture the payload is the
    utf-8 text bytes (pure-ASCII corpus, so the DuckDB oracle replays
    the identical integer hash per character; a real pipeline feeds
    decoded luma/PCM bytes through the same column and kernel).

    Scale shape: the hash pass is one linear scan (48 int64 sums per
    payload); state after it is 8 bytes per doc — the band join's
    traffic is O(docs × bands) narrow rows plus collision pairs, the
    same postings discipline as l2/l2c; verification is a bit_count
    on two longs, O(1) per candidate with no arrays shipped (the l50
    lesson)."""
    d = load_table(spark, sf_dir, "documents")

    def gen(batch_iter):
        for pdf in batch_iter:
            out = _ahash_kernel(pdf)
            if len(out):
                yield out

    sigs = d.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id long, phash long"
    )
    bands = sigs.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.shiftright("phash", PHASH_BAND_BITS * t)
                        .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                        .alias("bv"),
                    )
                    for t in range(PHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "phash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


# --- L3b: ANN via random-hyperplane LSH buckets (the 100 TB search path) -----

ANN_TABLES = 8
ANN_BITS = 8
EMBED_DIM = 64


def _hyperplane(table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane components from
    md5 — no RNG state, identical on every executor and every run."""
    out = []
    for dim in range(EMBED_DIM):
        digest = hashlib.md5(f"ann:{table}:{bit}:{dim}".encode()).digest()
        out.append((int.from_bytes(digest[:4], "big") % 2001 - 1000) / 1000.0)
    return out


def _bucket_col(emb, table: int):
    """8-bit bucket id for one LSH table: sign bits of 8 hyperplane dots."""
    acc = F.lit(0)
    for bit in range(ANN_BITS):
        w = F.array(*[F.lit(x) for x in _hyperplane(table, bit)])
        dot = F.aggregate(
            F.zip_with(emb, w, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
        )
        acc = acc + F.when(dot > 0, F.lit(1 << bit)).otherwise(F.lit(0))
    return acc


def _l3b_oracle() -> str:
    """DuckDB mirror of the hyperplane-LSH ANN: the hyperplanes are
    deterministic md5-derived constants, so the oracle embeds the very
    same values ``_hyperplane`` produces as literals and replays
    bucketing, multi-probe expansion, and exact-cosine re-ranking in
    SQL. (Sign-of-dot-product is stable across engines at these
    magnitudes; ties in the final ranking are broken on the rounded
    sim + neighbor_id, identically on both sides.)"""
    rows = []
    for t in range(ANN_TABLES):
        for bit in range(ANN_BITS):
            arr = ", ".join(repr(x) for x in _hyperplane(t, bit))
            rows.append(f"({t}, {bit}, CAST([{arr}] AS DOUBLE[]))")
    values = ",\n".join(rows)
    return f"""
WITH hp(tbl, bit, w) AS (VALUES {values}),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
bk AS (
  SELECT b.vec_id, h.tbl,
         CAST(sum(CASE WHEN list_dot_product(b.emb, h.w) > 0
                       THEN 1 << h.bit ELSE 0 END) AS BIGINT) AS bkt
  FROM base b CROSS JOIN hp h
  GROUP BY b.vec_id, h.tbl
),
probes AS (
  SELECT vec_id AS query_id, tbl,
         unnest([bkt] || list_transform(range(0, {ANN_BITS}),
                                        j -> xor(bkt, 1 << j))) AS bkt
  FROM bk WHERE vec_id < {TOPK_QUERY_IDS}
),
cands AS (
  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
  FROM bk b JOIN probes p ON b.tbl = p.tbl AND b.bkt = p.bkt
  WHERE b.vec_id != p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(q.emb, n.emb), 4) AS sim
  FROM cands c
  JOIN base q ON q.vec_id = c.query_id
  JOIN base n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, sim, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {TOPK_K}
"""


@query("l3b_ann_lsh", oracle=_l3b_oracle())
def l3b_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors: 8 independent 8-bit
    random-hyperplane tables with multi-probe — each query also probes
    every bucket within Hamming distance 1 of its own (9 buckets/table),
    so a single flipped sign bit can't lose a neighbor. Candidates get
    exact cosine; per-query top-10. At 100 TB the bucket join prunes to
    ~9/256 of the corpus per table instead of a full scan. Exact oracle
    (``_l3b_oracle`` replays the deterministic bucketing in SQL);
    pytest additionally measures recall vs the exact l3 result — note the
    fixture vectors are near-orthogonal (max pair cosine ≈ 0.51), the
    adversarial regime for any sublinear ANN; recall is high exactly in
    the near-dup regime where LSH is the right tool (see l7)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", emb_d.alias("emb"))
    buckets = base.select(
        "vec_id",
        "emb",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), _bucket_col(F.col("emb"), t).alias("bkt"))
                    for t in range(ANN_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "emb", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))
    # multi-probe: expand each query bucket to itself + all Hamming-1
    # neighbors (bit flips); the corpus side stays single-bucket.
    probes = [F.col("bkt")] + [
        F.col("bkt").bitwiseXOR(F.lit(1 << j)) for j in range(ANN_BITS)
    ]
    q = (
        buckets.filter(F.col("vec_id") < TOPK_QUERY_IDS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            "tbl",
            F.explode(F.array(*probes)).alias("bkt"),
        )
    )
    cands = (
        buckets.join(F.broadcast(q), ["tbl", "bkt"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qe", "vec_id", "emb")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_sim(F.col("qe"), F.col("emb")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= TOPK_K)


# --- L3c: ANN via IVF (coarse-quantizer buckets) ------------------------------

IVF_N_CENTROIDS = 16
IVF_NPROBE = 6  # fraction of lists probed bounds recall on
# near-uniform corpora (fixture vectors are near-orthogonal; measured
# global recall 0.62 at sf0.001 / 0.66 at sf0.01 on r4 data — same
# regime note as l3b applies)


@query("l3c_ann_ivf")
def l3c_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbors: a deterministic coarse
    quantizer (centroids = the embeddings of 16 hash-chosen corpus
    vectors, refined by one Lloyd step) partitions the corpus into
    inverted lists; each query probes its nprobe=6 nearest lists and
    only those candidates get exact cosine. The complementary
    scale-path to l3b's hyperplane LSH — at 100 TB the assignment is a
    broadcast argmin over the (tiny) centroid table and the probe is a
    bucket equi-join, never a full scan. Deterministic end-to-end (no
    RNG: seed vectors are chosen by vec_id hash order); rows-only
    oracle + recall checked in pytest."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", emb_d.alias("emb"))

    # list count: the measured fixture constant up to ANN_SMALL_N
    # vectors, ≈√N past it — capped at ANN_LITERAL_MAX_K because this
    # float demonstrator keeps the literal-expression assignment (the
    # broadcast-join large-K path is l3d's, where it is oracle-checked)
    n_cents = ann_k(
        table_rowcount(sf_dir, "embeddings"), IVF_N_CENTROIDS, cap=ANN_LITERAL_MAX_K
    )
    # seed centroids: the n_cents vectors with smallest
    # xxhash64(vec_id) — arbitrary but deterministic and data-dependent
    seeds = (
        base.withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h")
        .limit(n_cents)
        .withColumn("cid", F.row_number().over(Window.orderBy("h")) - 1)
        .select("cid", F.col("emb").alias("centroid"))
    )
    cent_rows = seeds.collect()  # tiny: n_cents rows

    def centroid_array(rows):
        return F.array(
            *[
                F.struct(
                    F.lit(r["cid"]).alias("cid"),
                    F.array(*[F.lit(float(x)) for x in r["centroid"]]).alias("c"),
                )
                for r in rows
            ]
        )

    def assign(emb, cents):
        # argmin squared distance over the literal centroid array —
        # JVM-side reduce, no shuffle, no Python
        dist = lambda c: F.aggregate(  # noqa: E731
            F.zip_with(emb, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        scored = F.transform(
            cents, lambda e_: F.struct(dist(e_.getField("c")).alias("d"), e_.getField("cid").alias("cid"))
        )
        return F.array_min(scored).getField("cid")

    # one Lloyd refinement step: mean of assigned vectors per seed.
    # Computed over fixed-point BIGINTs (the l28 trick), NOT F.avg —
    # float-sum accumulation order is partition-dependent, and an
    # ulp-level centroid wiggle flips borderline assignments between
    # sessions (surfaced as a recall-floor flake at exactly 14/50 vs
    # 15/50). Integer sums are order-free, so the refined centroids —
    # and therefore recall — are bit-stable on any partitioning.
    assigned = base.withColumn("cid", assign(F.col("emb"), centroid_array(cent_rows)))
    sums_rows = (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n"),
            *[
                F.sum(
                    F.floor(F.col("emb").getItem(i) * 10000 + F.lit(0.5)).cast("long")
                ).alias(f"s{i}")
                for i in range(EMBED_DIM)
            ],
        )
        .collect()
    )
    refined_rows = [
        {
            "cid": r["cid"],
            "centroid": [
                ((2 * r[f"s{i}"] + r["n"]) // (2 * r["n"])) / 10000.0
                for i in range(EMBED_DIM)
            ],
        }
        for r in sums_rows
    ]
    cents = centroid_array(refined_rows)

    lists = base.withColumn("cid", assign(F.col("emb"), cents))
    # queries probe their nprobe nearest centroids
    q = base.filter(F.col("vec_id") < TOPK_QUERY_IDS)
    dist_structs = F.transform(
        cents,
        lambda e_: F.struct(
            F.aggregate(
                F.zip_with(F.col("qe"), e_.getField("c"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, x: s + x,
            ).alias("d"),
            e_.getField("cid").alias("cid"),
        ),
    )
    probes = (
        q.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
        .withColumn(
            "cid",
            F.explode(
                F.slice(
                    F.transform(F.array_sort(dist_structs), lambda s: s.getField("cid")),
                    1,
                    IVF_NPROBE,
                )
            ),
        )
    )
    cands = (
        lists.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_sim(F.col("qe"), F.col("emb")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= TOPK_K)


# --- L7: embedding-cosine near-dup --------------------------------------------

NEARDUP_SIM = 0.98

# Exact all-pairs cosine is O(n²·d); the broadcast side (vec_id +
# 64-d double vector ≈ 0.5 KB/row) must also fit executor memory.
# Below this bound brute force beats bucketing AND is exact; above it
# the hyperplane-LSH bucketed path engages (same cost-based pattern
# as l2's near-dup text kernel).
L7_MAX_BROADCAST_VECS = 200_000

L7_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS sim
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) >= {NEARDUP_SIM}
"""


@query("l7_embed_neardup", oracle=L7_ORACLE)
def l7_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs at cosine ≥ 0.98, cost-based:
    bounded corpora run exact broadcast all-pairs (recall 1.0, and the
    DuckDB oracle checks every pair's similarity); past
    L7_MAX_BROADCAST_VECS the hyperplane-LSH bucketed path engages
    (two 8-bit tables, candidates per bucket collision — never an
    all-pairs product; pytest forces and recall-checks it)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", emb_d.alias("emb"))
    if e.count() <= L7_MAX_BROADCAST_VECS:
        a = base.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
        b = base.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
        sim = F.round(cosine_sim(F.col("ea"), F.col("eb")), 4)
        return (
            a.crossJoin(F.broadcast(b))
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", sim.alias("sim"))
            .filter(F.col("sim") >= NEARDUP_SIM)
        )
    buckets = base.select(
        "vec_id",
        "emb",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), _bucket_col(F.col("emb"), t).alias("bkt"))
                    for t in range(2)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "emb", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("a.emb").alias("ea"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("b.emb").alias("eb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    sim = cosine_sim(F.col("ea"), F.col("eb"))
    return pairs.select(
        "vec_a", "vec_b", F.round(sim, 4).alias("sim")
    ).filter(F.col("sim") >= NEARDUP_SIM)


# --- L8: dedup clustering (connected components over near-dup pairs) ---------

CC_MAX_ITERS = 20
CC_CHECKPOINT_EVERY = 3  # lineage-truncation cadence for the label frame


# Unrolled label-propagation rounds in the connected-components
# oracles. Measured (r6, DuckDB at sf0.1's 2.97M-pair graph): the
# min-label fixpoint lands after 4 effective rounds at every gate sf;
# with the pointer-jump term each round covers label distances that
# grow exponentially (≥2^(rounds-1)), so 8 rounds cover diameter ≥128
# — a 30× margin over the measured depth. If a future fixture ever
# exceeded it, the oracle diverges from Spark's true fixpoint and the
# gate fails LOUDLY (hash mismatch) — never silently.
CC_ORACLE_ROUNDS = 8


def _cc_pairs_and_closure_sql(src: str, threshold: float) -> str:
    """DuckDB CTE block: exact token-Jaccard pairs at ``threshold``
    among docs in CTE ``src`` (doc_id, text), then connected
    components as CC_ORACLE_ROUNDS unrolled min-label-propagation
    rounds with pointer jumping. Yields ``cc(doc_id, cluster_id)``
    with cluster_id = min reachable doc_id — exactly the fixpoint of
    the Spark side's min-label propagation.

    The r5 formulation materialized the full per-doc transitive
    closure as a recursive CTE — Σ component_size² reach rows, each
    recursion step joining them against the 5.9M directed edges: that
    one CTE blew a 70-minute full-registry sweep at sf0.1. Each
    unrolled round here is ONE bounded edge join + one tiny
    label-to-label pointer jump (l(l(d)) — halves the remaining label
    depth per round), converging to the identical fixpoint in ~2 s
    where the closure ran for tens of minutes (measured, r6).

    Valid as an oracle because at the gate's scale the Spark pair
    generation takes the exact kernel path (recall 1.0), so both
    sides cluster the identical pair graph."""
    rounds = []
    for k in range(1, CC_ORACLE_ROUNDS + 1):
        # AS MATERIALIZED is load-bearing: each round references the
        # previous one 3× (self, pointer jump, neighbor min) — left to
        # DuckDB's default CTE inlining the plan tree grows 3^rounds
        # copies of the pair build (observed: "Too many open files")
        rounds.append(
            f""",
l{k} AS MATERIALIZED (
  SELECT d.doc_id,
         least(d.label, j.label, coalesce(nm.nmin, d.label)) AS label
  FROM l{k - 1} d
  JOIN l{k - 1} j ON j.doc_id = d.label
  LEFT JOIN (SELECT e.s AS doc_id, min(l.label) AS nmin
             FROM edges e JOIN l{k - 1} l ON l.doc_id = e.t
             GROUP BY e.s) nm
    ON nm.doc_id = d.doc_id
)"""
        )
    return f"""
tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token FROM {src}
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {threshold}
),
edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
l0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM {src}){"".join(rounds)},
cc AS (SELECT doc_id, label AS cluster_id FROM l{CC_ORACLE_ROUNDS})
"""


L8_ORACLE = f"""
WITH src AS (SELECT doc_id, text FROM documents),
{_cc_pairs_and_closure_sql("src", MINHASH_THRESHOLD)}
SELECT doc_id, cluster_id, CAST(doc_id = cluster_id AS INTEGER) AS keep FROM cc
"""


def _min_label_propagation(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components of an undirected pair graph by iterative
    min-label propagation: (doc_id, label = min doc_id reachable).

    Each iteration is one join + one aggregate; converges in
    O(diameter) rounds. Every CC_CHECKPOINT_EVERY rounds the label
    frame is localCheckpoint'ed so the logical plan stays O(1) deep
    instead of O(rounds) (a 100-TB run without lineage truncation
    re-plans an ever-growing DAG and eventually stack-overflows the
    optimizer). At 100 TB the same loop is the standard alternating
    small-star/large-star shape."""
    # Materialize the pair frame BEFORE the symmetric union: neither
    # union branch ends in an exchange, so ReuseExchange has nothing to
    # dedup and both branches would re-execute the entire candidate/
    # verify pipeline above (the a18 multi-consumer lesson; measured
    # r14 on the 10× rung: the exact pair kernel ran as a 128-task
    # stage — once per branch — and checkpointing the pair frame
    # halved it). The frame is pair-sized, far below the candidate
    # pipeline's cost.
    pairs = pairs.localCheckpoint(eager=True)
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    # Size the edge frame's partitions to the DATA, not to the kernel's
    # probe layout (r15): the checkpointed pair frame inherits the
    # kernel's 64 probe partitions, the symmetric union doubles that to
    # 128, and every CC iteration re-scans all of them — at sf0.1 that
    # is 128 tasks per iteration over a few MB of pairs, pure
    # scheduling overhead (the r15 l51 profile: five 128-task stages,
    # 6.4 MB input each). coalesce (no exchange — each task reads a few
    # checkpointed blocks locally) to ~250k edge rows per partition,
    # clamped to [4, 2x parallelism]; the count is a metadata-cheap job
    # over the already-materialized checkpoint.
    par = edges.sparkSession.sparkContext.defaultParallelism or 8
    n_edges = 2 * pairs.count()
    edges = edges.coalesce(max(4, min(2 * par, 1 + n_edges // 250_000)))
    edges = edges.persist()
    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    prev_handle = None
    for it in range(CC_MAX_ITERS):
        # neighbor's current label, take the min of (own, neighbors')
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        # carry the convergence bit on the row instead of re-joining
        # new vs old labels afterwards (r14: the old per-iteration
        # changed-check was its own join + count job; a label can only
        # DECREASE, so "nmin < label" on the merge row is the same
        # predicate the join evaluated)
        new_frame = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
                (F.coalesce("nmin", F.col("label")) < F.col("label")).alias("__chg"),
            )
        )
        if (it + 1) % CC_CHECKPOINT_EVERY == 0:
            # truncate lineage: keeps the plan depth constant across rounds
            new_frame = new_frame.localCheckpoint(eager=True)
        else:
            new_frame = new_frame.persist()
        changed = new_frame.filter(F.col("__chg")).limit(1).count()
        if prev_handle is not None:
            prev_handle.unpersist()
        prev_handle = new_frame
        labels = new_frame.drop("__chg")
        if changed == 0:
            break
    edges.unpersist()
    return labels


@query("l8_dedup_clusters", oracle=L8_ORACLE)
def l8_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn pairwise near-dup evidence into KEEP/DROP decisions: the
    connected components of the near-dup pair graph
    (``_min_label_propagation``). Output: (doc_id, cluster_id = min
    doc_id of its component, keep = doc_id == cluster_id) — the actual
    deliverable of a dedup pipeline (you keep one representative per
    cluster, not a pair list).

    The iterative Spark side converges to label = min reachable
    doc_id; the oracle reproduces those labels as bounded unrolled
    pointer-jumping propagation rounds over the same exact pair graph
    (see ``_cc_pairs_and_closure_sql``). pytest asserts the fixpoint
    property (one more propagation step changes nothing) and that
    every pair's endpoints share a cluster."""
    d = load_table(spark, sf_dir, "documents")
    pairs = l2_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_propagation(d, pairs)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        # int, not boolean — same driver-canon caution as l4/f5
        (F.col("doc_id") == F.col("label")).cast("int").alias("keep"),
    )


# --- L9: end-to-end corpus dedup pipeline -------------------------------------

L9_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm_text,
         (len(string_split(text, ' ')) >= 5 AND
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) > 0.3) AS ok
  FROM documents
),
keepers AS (
  SELECT min(doc_id) AS doc_id FROM scored WHERE ok GROUP BY md5(norm_text)
),
src AS (
  SELECT s.doc_id, s.text FROM scored s JOIN keepers k ON s.doc_id = k.doc_id
),
{_cc_pairs_and_closure_sql("src", MINHASH_THRESHOLD)}
SELECT doc_id, 'drop_quality' AS stage, CAST(NULL AS BIGINT) AS cluster_id
FROM scored WHERE NOT ok
UNION ALL
SELECT s.doc_id, 'drop_exact' AS stage, CAST(NULL AS BIGINT) AS cluster_id
FROM scored s
WHERE s.ok AND s.doc_id NOT IN (SELECT doc_id FROM keepers)
UNION ALL
SELECT doc_id,
       CASE WHEN doc_id = cluster_id THEN 'keep' ELSE 'drop_neardup' END AS stage,
       cluster_id
FROM cc
"""


@query("l9_dedup_pipeline", oracle=L9_ORACLE)
def l9_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline, one operator:

    1. normalize (L6 chain) and quality-gate (L4 signals: ≥5 tokens,
       uniqueness ratio > 0.3) — failures tagged ``drop_quality``;
    2. exact dedup on the normalized-text fingerprint (L1 shape,
       min-doc_id keeper) — non-keepers tagged ``drop_exact``;
    3. near-dup clustering of the survivors: cost-based pair
       generation ≥0.8 (L2 — banded MinHash + bitmap verify past the
       broadcast boundary, exact kernel below it), connected
       components by min-label propagation (L8) — non-representatives
       tagged ``drop_neardup``; cluster representatives ``keep``.

    Output: (doc_id, stage, cluster_id) — a total partition of the
    corpus with the reason each dropped doc was dropped, which is the
    artifact an actual 100 TB curation run ships. Every constituent is
    the same scored operator the engine exposes standalone; the
    pipeline adds only narrow projections and left-anti joins between
    stages (no new shuffle shapes). The oracle replays all three
    stages in SQL, reproducing the iterative near-dup stage with the
    same bounded-round propagation (``_cc_pairs_and_closure_sql``); pytest
    asserts the stages partition the corpus and that no two kept docs
    share a verified near-dup pair."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " ")
    )
    scored = d.select(
        "doc_id", "text", norm.alias("norm_text"), ((n_tok >= 5) & (uniq_ratio > 0.3)).alias("ok")
    )
    dropped_quality = scored.filter(~F.col("ok")).select(
        "doc_id", F.lit("drop_quality").alias("stage"), F.lit(None).cast("long").alias("cluster_id")
    )
    quality_ok = scored.filter(F.col("ok"))

    # exact dedup on normalized fingerprint: min doc_id per digest keeps
    keepers = (
        quality_ok.groupBy(F.md5("norm_text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    dropped_exact = quality_ok.join(keepers, "doc_id", "left_anti").select(
        "doc_id", F.lit("drop_exact").alias("stage"), F.lit(None).cast("long").alias("cluster_id")
    )
    survivors = quality_ok.join(keepers, "doc_id", "left_semi").select("doc_id", "text")

    # near-dup clustering among survivors. exact_required: l9 carries a
    # full value-hash oracle, so the exact kernel is forced below the
    # broadcast cliff (banded LSH only past it, where no oracle runs).
    # Footer count of the unfiltered table is an upper bound on the
    # survivor count — fine for strategy costing, and _neardup_pairs
    # recounts the actual survivor frame before it would ever concede
    # an exact_required call to the banded path.
    pairs = _neardup_pairs(
        survivors,
        MINHASH_THRESHOLD,
        n_docs=table_rowcount(sf_dir, "documents"),
        exact_required=True,
    )
    labels = _min_label_propagation(survivors, pairs.select("doc_a", "doc_b"))
    final = labels.select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("label"), F.lit("keep"))
        .otherwise(F.lit("drop_neardup"))
        .alias("stage"),
        F.col("label").alias("cluster_id"),
    )
    return dropped_quality.unionByName(dropped_exact).unionByName(final)

@query(
    "l5_multimodal_meta",
    oracle="""
SELECT
  doc_id,
  octet_length(encode(text))  AS n_bytes,
  sha256(text)                AS media_sha,
  'utf8-text'                 AS media_kind
FROM documents
""",
)
def l5_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: an opaque BinaryType media payload
    + typed metadata struct, carried through a relational projection.
    The binary never crosses to Python here; size/digest are JVM ops.
    (Fixture corpus has no real media, so the payload is the utf-8
    document bytes — the column shapes are what the operator proves.
    Oracle note: DuckDB 1.0 sha256 takes VARCHAR only; sha256(text)
    equals sha2(encode(text,'utf-8'), 256) byte-for-byte.)
    """
    d = load_table(spark, sf_dir, "documents")
    media = F.encode("text", "utf-8")
    meta = F.struct(
        F.length(media).alias("n_bytes"),
        F.sha2(media, 256).alias("sha"),
        F.lit("utf8-text").alias("kind"),
    )
    framed = d.select("doc_id", media.alias("media"), meta.alias("meta"))
    return framed.select(
        "doc_id",
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        F.col("meta.sha").alias("media_sha"),
        F.col("meta.kind").alias("media_kind"),
    )


FRAME_SIZE = 32
FRAME_STRIDE = 3  # sample every 3rd frame
_FRAME_STEP = FRAME_SIZE * FRAME_STRIDE

# The corpus is pure ASCII (verified at every sf), so byte-slicing the
# utf-8 payload ≡ char-slicing the text — which makes the binary frame
# digests exactly reproducible in DuckDB (sha256 is VARCHAR-only there).
L5C_ORACLE = f"""
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, length(text) // {_FRAME_STEP} + 1)) AS frame_no
  FROM documents
)
SELECT doc_id, frame_no,
       length(substring(text, frame_no * {_FRAME_STEP} + 1, {FRAME_SIZE})) AS frame_bytes,
       sha256(substring(text, frame_no * {_FRAME_STEP} + 1, {FRAME_SIZE})) AS frame_sha
FROM f
WHERE length(substring(text, frame_no * {_FRAME_STEP} + 1, {FRAME_SIZE})) > 0
"""


@query("l5c_frame_sample", oracle=L5C_ORACLE)
def l5c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque media payload: every k-th
    fixed-size chunk of the binary is emitted as its own 'frame' row
    with an index — the row-expanding half of a video pipeline
    (decode itself would need codec libs, absent in this container;
    the chunking, batch shape, and per-frame digest are real). All
    JVM-side: substring on binary + posexplode, no Python."""
    d = load_table(spark, sf_dir, "documents")
    media = F.encode("text", "utf-8")
    frame_size = FRAME_SIZE
    stride = FRAME_STRIDE
    n_frames = F.floor(F.length(media) / (frame_size * stride)).cast("int") + 1
    framed = d.select(
        "doc_id",
        media.alias("media"),
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("pos", "fidx"),
    )
    frame = F.expr(f"substring(media, pos * {frame_size * stride} + 1, {frame_size})")
    return framed.select(
        "doc_id",
        F.col("pos").alias("frame_no"),
        F.length(frame).alias("frame_bytes"),
        F.sha2(frame, 256).alias("frame_sha"),
    ).filter(F.col("frame_bytes") > 0)


RESIZE_FACTOR = 4

# Mirrors the UDF's b[::4] on the ASCII payload char-by-char; proves
# the binary survived the Arrow round-trip bit-exactly.
L5D_ORACLE = f"""
WITH r AS (
  SELECT doc_id, length(text) AS orig_bytes,
         array_to_string(list_transform(
           range(0, (length(text) + {RESIZE_FACTOR - 1}) // {RESIZE_FACTOR}),
           i -> substring(text, i * {RESIZE_FACTOR} + 1, 1)), '') AS resized
  FROM documents
)
SELECT doc_id, orig_bytes, length(resized) AS resized_bytes,
       sha256(resized) AS resized_sha
FROM r
"""


@query("l5d_media_resize", oracle=L5D_ORACLE)
def l5d_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize over ``mapInPandas``: Arrow batches of binary
    payloads in, downsampled payloads + new dimensions out. A real
    deployment decodes and resamples pixels (PIL absent in this
    container → that branch raises NotImplementedError); the
    deterministic stand-in treats the byte string as a 1-D 'image' and
    keeps every 4th byte — the Spark-side contract (binary in/out
    through Arrow, schema, batch shape) is fully real."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    framed = d.select("doc_id", F.encode("text", "utf-8").alias("media"))
    factor = RESIZE_FACTOR

    def resize(batches):
        for pdf in batches:
            out_rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)
                # Real path: PIL.Image.open(...).resize(...) → absent here
                small = b[::factor]
                out_rows.append((int(doc_id), len(b), len(small), bytearray(small)))
            yield pd.DataFrame(
                out_rows, columns=["doc_id", "orig_bytes", "resized_bytes", "resized"]
            )

    out = framed.mapInPandas(
        resize, "doc_id long, orig_bytes long, resized_bytes long, resized binary"
    )
    # digest JVM-side to prove the binary round-tripped through Arrow
    return out.select(
        "doc_id", "orig_bytes", "resized_bytes", F.sha2("resized", 256).alias("resized_sha")
    )


# Raw IEEE doubles from identical integer/constant division on both
# sides hash identically — no rounding anywhere (oracle-parity rule:
# never round in pandas UDFs).
L5B_ORACLE = """
SELECT doc_id,
       1 + ascii(substring(text, 1, 1))                         AS width,
       1 + ascii(substring(text, length(text), 1))              AS height,
       4                                                        AS feat_dim,
       length(text) / 1000.0                                    AS f_len,
       ascii(substring(text, 1, 1)) / 255.0                     AS f_first,
       ascii(substring(text, length(text) // 2 + 1, 1)) / 255.0 AS f_mid,
       ascii(substring(text, length(text), 1)) / 255.0          AS f_last
FROM documents
"""


@query("l5b_media_features", oracle=L5B_ORACLE)
def l5b_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode / feature-extraction over ``mapInPandas``: Arrow
    batches of (doc_id, media-binary) flow to Python; a real deployment
    would decode images/audio here (PIL/librosa are NOT in this
    container — that path raises NotImplementedError); the deterministic
    stub derives pseudo width/height/features from the bytes so the
    Spark-side plumbing (schema, batch shape, binary transport) is
    fully real and testable."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    framed = d.select("doc_id", F.encode("text", "utf-8").alias("media"))

    def extract(batches):
        for pdf in batches:
            feats = []
            for blob in pdf["media"]:
                b = bytes(blob)
                if not b:
                    feats.append((0, 0, [0.0, 0.0, 0.0, 0.0]))
                    continue
                # Real decode would be: img = PIL.Image.open(io.BytesIO(b))
                # → raise NotImplementedError("image decode needs PIL")
                feats.append(
                    (
                        1 + b[0],
                        1 + b[-1],
                        [
                            len(b) / 1000.0,
                            b[0] / 255.0,
                            b[len(b) // 2] / 255.0,
                            b[-1] / 255.0,
                        ],
                    )
                )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "feat": [f[2] for f in feats],
                }
            )
            yield out

    out = framed.mapInPandas(
        extract, "doc_id long, width int, height int, feat array<double>"
    )
    # Engine users get the typed array<double> from the mapInPandas
    # stage above; the registered (driver-facing) projection scalarizes
    # it — the driver canonicalizer cannot handle array cells (r02) —
    # into one raw-double column per feature.
    return out.select(
        "doc_id",
        "width",
        "height",
        F.size("feat").alias("feat_dim"),
        F.element_at("feat", 1).alias("f_len"),
        F.element_at("feat", 2).alias("f_first"),
        F.element_at("feat", 3).alias("f_mid"),
        F.element_at("feat", 4).alias("f_last"),
    )


# --- L22: semantic dedup (cluster-scoped embedding dedup, SemDeDup-style) -----

SEM_N_CLUSTERS = 16
SEM_THRESHOLD = 0.40

L22_ORACLE = f"""
WITH seeds AS (
  SELECT CAST(embedding AS DOUBLE[]) AS c,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {SEM_N_CLUSTERS}
),
asgn AS (
  SELECT e.vec_id, s.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c), 6)
                    DESC, s.cid) AS rn
  FROM embeddings e CROSS JOIN seeds s
),
a1 AS (SELECT vec_id, cid FROM asgn WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM a1 a
  JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 4)
        >= {SEM_THRESHOLD}
)
SELECT a1.vec_id, a1.cid,
       CAST(a1.vec_id NOT IN (SELECT vec_id FROM dropped) AS INTEGER) AS keep
FROM a1
"""


@query("l22_semantic_dedup", oracle=L22_ORACLE)
def l22_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic dedup (the SemDeDup recipe from the
    public literature: cluster embeddings, then drop all but one of
    each high-cosine pair WITHIN a cluster — never comparing across
    clusters). Deterministic stand-in for k-means: centroids are the
    SEM_N_CLUSTERS md5-hash-chosen corpus vectors (md5, not
    xxhash64, so DuckDB replays the choice exactly); assignment is a
    broadcast argmax over them with similarities rounded to 6 decimals
    before ranking so an accumulation-order ulp can't flip the argmax.
    A doc is dropped when a lower-id same-cluster partner sits at
    cosine ≥ SEM_THRESHOLD (0.40 — calibrated to this fixture's
    near-orthogonal vectors, max pair cosine ≈ 0.51; prose corpora
    run ~0.95+). Scale: assignment is one narrow
    broadcast pass; the pair join shuffles on cid and is quadratic
    only within a cluster — which is the SemDeDup design point: k
    grows with the corpus (k ≈ N/10k) to keep clusters bounded, and
    the keeper rule needs no global state. Full exact oracle (both
    engines run the identical pipeline)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    seed_key = F.md5(F.col("vec_id").cast("string"))
    seeds = (
        base.withColumn("h", seed_key)
        .orderBy("h", "vec_id")
        .limit(SEM_N_CLUSTERS)
        .withColumn("cid", F.row_number().over(Window.orderBy("h", "vec_id")))
        .select("cid", F.col("emb").alias("c"))
    )
    sim_c = F.round(cosine_sim(F.col("emb"), F.col("c")), 6)
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.desc("sim_c"), "cid")
    )
    a1 = (
        base.crossJoin(F.broadcast(seeds))
        .withColumn("sim_c", sim_c)
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "emb")
    )
    a = a1.select("cid", F.col("vec_id").alias("va"), F.col("emb").alias("ea"))
    b = a1.select("cid", F.col("vec_id").alias("vb"), F.col("emb").alias("eb"))
    pair_sim = F.round(cosine_sim(F.col("ea"), F.col("eb")), 4)
    dropped = (
        a.join(b, "cid")
        .filter(F.col("va") < F.col("vb"))
        .filter(pair_sim >= SEM_THRESHOLD)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
    )
    return (
        a1.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.when(F.col("_d").isNull(), 1).otherwise(0).alias("keep"),
        )
    )


# --- L24: contrastive hard-negative mining -----------------------------------

HN_ANCHOR_IDS = 8   # vec_id < 8 are the anchor vectors
HN_K = 3            # hard negatives kept per anchor

L24_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, embedding AS ae, label AS alabel
  FROM embeddings WHERE vec_id < {HN_ANCHOR_IDS}
),
scored AS (
  SELECT
    a.anchor_id,
    a.alabel AS anchor_label,
    e.vec_id AS negative_id,
    e.label  AS negative_label,
    round(list_cosine_similarity(CAST(a.ae AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])), 4) AS sim
  FROM embeddings e, a
  WHERE e.label != a.alabel
)
SELECT anchor_id, anchor_label, negative_id, negative_label, sim, rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY anchor_id ORDER BY sim DESC, negative_id) AS rnk
  FROM scored
)
WHERE rnk <= {HN_K}
"""


@query("l24_hard_negatives", oracle=L24_ORACLE)
def l24_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor embedding,
    the top-k most-similar vectors carrying a DIFFERENT label — the
    pairs that teach a contrastive/metric model the most (highest-
    similarity wrong-label examples). Same execution shape as l3
    (bounded anchor set broadcast against a linear corpus scan,
    per-anchor top-k heap, ranking on the rounded similarity + id
    tiebreak), plus the label inequality pushed into the scan-side
    filter so same-label rows never reach the heap. At 100 TB the
    anchor set stays the broadcast side and the corpus is read once;
    the LSH-bucketed variant (l3b) is the recall-trading alternative
    when the anchor set itself is huge.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    corpus = e.select("vec_id", F.col("label"), emb_d.alias("ce"))
    anchors = e.filter(F.col("vec_id") < HN_ANCHOR_IDS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        emb_d.alias("ae"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.round(cosine_sim(F.col("ae"), F.col("ce")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HN_K)
    )


# --- L26: int8-quantized similarity search ------------------------------------

def quantize_int8(df: DataFrame, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: append ``q`` (the
    quantized array<long>, values in [-127, 127]) and ``nq`` (its
    exact integer squared norm) for ``vec_col`` (array<double>).
    q_i = round_half_up(x_i * 127/amax) with a 1e-30 floor on amax so
    all-zero vectors quantize to zeros instead of dividing by zero."""
    s = F.lit(127.0) / F.greatest(
        F.array_max(F.transform(vec_col, F.abs)), F.lit(1e-30)
    )
    q8 = df.withColumn(
        "q", F.transform(vec_col, lambda x: F.floor(x * s + F.lit(0.5)))
    )
    return q8.withColumn(
        "nq",
        F.aggregate(
            F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    ).drop(vec_col)


# Symmetric per-vector int8 quantization: q_i = round_half_up(x_i *
# 127/amax). The quantized cosine needs NO dequantization — the two
# scales cancel: cos_q = dot(qa,qb) / (|qa| * |qb|) — so the whole
# kernel is exact BIGINT arithmetic (64-dim int8 dot ≤ 64*127^2 ≈ 1e6)
# plus one deterministic sqrt/divide, which is what makes an exact
# cross-engine oracle possible.


@query(
    "l26_quantized_search",
    oracle=f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sc AS (
  SELECT vec_id, e,
         127.0 / greatest(list_max(list_transform(e, y -> abs(y))), 1e-30) AS s
  FROM base
),
q8 AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS q
  FROM sc
),
n8 AS (
  SELECT vec_id, q,
         list_sum(list_transform(q, x -> x * x)) AS nq
  FROM q8
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(a.q) + 1),
                                 i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS qdot,
         a.nq AS na, b.nq AS nb
  FROM n8 a, n8 b
  WHERE a.vec_id < {TOPK_QUERY_IDS} AND b.vec_id != a.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, qdot,
         qdot / (sqrt(na) * sqrt(nb)) AS qsim
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(qdot AS BIGINT) AS qdot, qsim, rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY qsim DESC, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {TOPK_K}
""",
)
def l26_quantized_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over int8-QUANTIZED embeddings — the
    memory-bound scale path: int8 storage is 4x smaller than float32
    (at 100 TB of vectors that is the difference between in-memory and
    spilled scans), SIMD int8 dot products are the fast kernel every
    production vector store uses, and the per-vector scales cancel in
    the cosine so ranking needs no dequantization. Quantize once
    (narrow, JVM higher-order functions), broadcast the bounded probe
    set, integer dot + one sqrt/divide per pair, per-query bounded
    top-k window — l3's plan shape with a 4x lighter scan. The pytest
    layer checks quantized top-k recall against exact float cosine
    (l3); the oracle replays the identical integer arithmetic in SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    n8 = quantize_int8(
        e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")),
        "e",
    )
    probes = n8.filter(F.col("vec_id") < TOPK_QUERY_IDS).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    pairs = (
        n8.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("qa", "q", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("qdot"),
            "na",
            F.col("nq").alias("nb"),
        )
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        "qdot",
        (F.col("qdot") / (F.sqrt("na") * F.sqrt("nb"))).alias("qsim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("qsim"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_K)
    )


# --- L28: corpus k-means clustering (Lloyd's, exact-integer) ------------------

# K-means over the embedding corpus — the clustering step under corpus
# organization jobs (IVF coarse quantizers, SemDeDup's cluster scoping,
# domain discovery, diversity-balanced sampling). Lloyd's algorithm is
# iterative; Spark's shape for it is the MLlib one: centroids live on
# the driver (K*dim values — bounded metadata, NOT corpus data), each
# iteration is ONE corpus scan that computes every distance JVM-side
# against broadcast centroid literals, and the re-center is one narrow
# posexplode + (cluster, component) partial-agg shuffle of K*dim*parts
# rows. No corpus-sized join, no per-row Python.
#
# Exactness (what makes a cross-engine oracle possible, vs MLlib's
# float path): embeddings are quantized once to BIGINT at a fixed
# global scale, distances are exact integer sums, and each new
# centroid component is floor((2*sum + n) / (2n)) — round-half-up of
# the mean computed identically by Spark and DuckDB (the IEEE quotient
# is >= 1/(2n) from the nearest integer whenever it is not exactly
# one, so floor() cannot diverge). Ties in the argmin break to the
# lowest cluster id via struct ordering. Iteration count is fixed
# (KMEANS_ITERS), init is the first K vec_ids: every run, engine, and
# cluster layout produces the same assignment.

KMEANS_K = 4
KMEANS_ITERS = 2          # re-center rounds; assignments run ITERS+1 times
KMEANS_SCALE = 10000      # global quantization: q_i = round_half_up(x_i * SCALE)


# --- ANN scale parameterization ----------------------------------------------
# The fixture-regime codebook/centroid counts (KMEANS_K, PQ_K,
# IVF_N_CENTROIDS) are measured configs that hold for corpora up to
# ANN_SMALL_N vectors. Past that they follow the standard IVF sizing
# K ≈ √N (capped), computed by the SAME formula in Spark (``ann_k``)
# and in each oracle's SQL (``ann_k_sql`` — a CASE over count(*)), so
# K stays cross-engine deterministic at every corpus size and the
# oracles remain exact without fixture-frozen structure. Both sides
# use IEEE-double floor(sqrt(n)) so the boundary rounding is identical.
ANN_SMALL_N = 4096
ANN_MAX_K = 4096
# Past this many centroids an expression-literal argmin (K×dim literals
# baked into the plan) bloats codegen; assignment switches to a
# broadcast-join argmin over a centroid DataFrame with the identical
# (d, c) tie-break.
ANN_LITERAL_MAX_K = 64


def ann_k(n_vecs: int, small_k: int, cap: int = ANN_MAX_K) -> int:
    """Centroid/codebook count for a corpus of ``n_vecs`` vectors."""
    if n_vecs <= ANN_SMALL_N:
        return small_k
    return min(cap, int(math.floor(math.sqrt(float(n_vecs)))))


def ann_k_sql(small_k: int, cap: int = ANN_MAX_K, table: str = "embeddings") -> str:
    """``ann_k`` as a SQL scalar over the live corpus count."""
    n = f"(SELECT count(*) FROM {table})"
    return (
        f"(CASE WHEN {n} <= {ANN_SMALL_N} THEN {small_k} "
        f"ELSE LEAST({cap}, CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT)) END)"
    )


# Training-sample bound: with K ≈ √N, running Lloyd iterations over the
# FULL corpus costs N×K ≈ N^1.5 per pass — measured superlinear in the
# 10× smoke (l28 hit 31×). Real systems train the quantizer on a
# sample; here the sample is the first TRAIN_N vec_ids (deterministic
# AND SQL-expressible, so the oracles stay value-exact), sized at
# ANN_TRAIN_FACTOR vectors per centroid. Below ANN_SMALL_N the sample
# is the whole corpus — fixture behavior unchanged. Only the final
# inverted-file assignment touches all N rows (inherent: every vector
# must be assigned once), and that pass is scan-local (see
# ``_kmeans_assign``).
ANN_TRAIN_FACTOR = 32


def ann_train_n(n_vecs: int, k: int) -> int:
    if n_vecs <= ANN_SMALL_N:
        return n_vecs
    return min(n_vecs, ANN_TRAIN_FACTOR * k)


def ann_train_n_sql(small_k: int, cap: int = ANN_MAX_K, table: str = "embeddings") -> str:
    n = f"(SELECT count(*) FROM {table})"
    return (
        f"(CASE WHEN {n} <= {ANN_SMALL_N} THEN {n} "
        f"ELSE LEAST({n}, {ANN_TRAIN_FACTOR} * {ann_k_sql(small_k, cap, table)}) END)"
    )


def _kmeans_sql_iters() -> str:
    """Unrolled CTE chain: assign -> re-center over the deterministic
    training sample (comp_t: vec_id < train_n — the whole corpus in
    the fixture regime), KMEANS_ITERS times, then the final assignment
    over ALL vectors (exactly what the Spark loop runs)."""
    parts = [
        f"""
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE} + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
comp AS (
  SELECT vec_id, unnest(range(0, len(q))) AS i, unnest(q) AS x FROM q
),
comp_t AS (
  SELECT * FROM comp WHERE vec_id < {ann_train_n_sql(KMEANS_K)}
),
cent0 AS (SELECT vec_id AS c, i, x AS ci FROM comp WHERE vec_id < {ann_k_sql(KMEANS_K)})"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(f"""
a{it} AS (
  SELECT comp_t.vec_id, cent{it}.c,
         CAST(sum((comp_t.x - cent{it}.ci) * (comp_t.x - cent{it}.ci)) AS BIGINT) AS d
  FROM comp_t JOIN cent{it} USING (i) GROUP BY comp_t.vec_id, cent{it}.c
),
asg{it} AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM a{it}
  ) WHERE rn = 1
),
cent{it + 1} AS (
  SELECT c, i,
         CAST(floor((2 * sum(x) + count(*)) / (2.0 * count(*))) AS BIGINT) AS ci
  FROM asg{it} JOIN comp_t USING (vec_id) GROUP BY c, i
)""")
    parts.append(f"""
afin AS (
  SELECT comp.vec_id, cent{KMEANS_ITERS}.c,
         CAST(sum((comp.x - cent{KMEANS_ITERS}.ci) * (comp.x - cent{KMEANS_ITERS}.ci)) AS BIGINT) AS d
  FROM comp JOIN cent{KMEANS_ITERS} USING (i) GROUP BY comp.vec_id, cent{KMEANS_ITERS}.c
)""")
    return ",".join(parts)


L28_ORACLE = f"""
WITH {_kmeans_sql_iters()}
SELECT vec_id, CAST(c AS BIGINT) AS cluster, d AS dist FROM (
  SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
  FROM afin
) WHERE rn = 1
"""


def _kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * KMEANS_SCALE + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )


def _kmeans_dist_structs(cents: dict[int, list[int]]):
    """array<struct<d, c>> of exact squared distances from column ``q``
    to every centroid: one JVM expression per centroid against
    literals, in cluster-id order."""
    return F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        "q",
                        F.array(*[F.lit(int(v)) for v in vec]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                ).alias("d"),
                F.lit(int(c)).cast("long").alias("c"),
            )
            for c, vec in sorted(cents.items())
        ]
    )


def _centroid_row(qdf: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """ONE-row DataFrame holding the whole centroid table as an
    array<struct<cid, cvec>> column. Cross-joined broadcast, it gives
    every scan row the centroid array as a plain column — so argmin /
    probe expressions stay scan-local at ANY K, instead of either
    baking K×dim literals into codegen (breaks past a few hundred
    centroids) or materializing N×K rows through a join+groupBy
    (measured 31× on the 10× smoke)."""
    spark = qdf.sparkSession
    payload = [
        {"cid": int(c), "cvec": [int(v) for v in vec]}
        for c, vec in sorted(cents.items())
    ]
    return spark.createDataFrame(
        [(payload,)], "cents array<struct<cid: bigint, cvec: array<bigint>>>"
    )


def _cent_dist_structs(cents_col):
    """array<struct<d, cid>> of exact distances from column ``q`` to
    every centroid in the ``cents`` array column — all in-row JVM
    higher-order functions."""
    dist = lambda cv: F.aggregate(  # noqa: E731
        F.zip_with("q", cv, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.transform(
        cents_col,
        lambda e: F.struct(
            dist(e.getField("cvec")).alias("d"), e.getField("cid").alias("c")
        ),
    )


def _kmeans_assign(qdf: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """(vec_id, q, c, d) nearest-centroid assignment with identical
    (d, c) tie-break on both paths:

    - ≤ ANN_LITERAL_MAX_K centroids: ``_kmeans_dist_structs``'
      expression literals, argmin via array_min's struct ordering (d
      first, then cluster id) — one corpus scan, no join, no exchange
      (plan-pinned), and at fixture K the interpreted lambda cost is
      noise.
    - larger K (the √N regime past ANN_SMALL_N vectors): a vectorized
      Arrow ``mapInPandas`` kernel — N×K×dim dense distance work is
      exactly the case where Catalyst's higher-order-function lambdas
      (interpreted, measured ~3M steps/s: 55 s for 20k×141 vectors)
      lose to batched integer numpy (~100× faster), and a join+groupBy
      formulation shuffles N×K rows. All math stays int64 (diffs ≤
      2·10⁴ squared ×64 dims ≪ 2⁶³), argmin over cid-sorted centroids
      takes the first minimum — byte-identical results to the literal
      path, pinned by test.
    """
    if len(cents) <= ANN_LITERAL_MAX_K:
        best = F.array_min(_kmeans_dist_structs(cents))
        return qdf.select(
            "vec_id", "q", best["c"].alias("c"), best["d"].alias("d")
        )
    import numpy as np

    cent_ids = np.array(sorted(cents), dtype=np.int64)
    C = np.array([cents[int(c)] for c in cent_ids], dtype=np.int64)
    c2 = (C * C).sum(axis=1)

    def assign_batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            Q = np.array(pdf["q"].tolist(), dtype=np.int64)
            # ||q-c||² = ||q||² - 2 q·c + ||c||², all exact int64
            # (q·c ≤ 64·10⁸ per entry — far inside the integer range)
            D = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ C.T) + c2[None, :]
            amin = D.argmin(axis=1)  # first min → lowest cid (C sorted)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "q": pdf["q"],
                    "c": cent_ids[amin],
                    "d": D[np.arange(len(D)), amin],
                }
            )

    return qdf.mapInPandas(
        assign_batches, "vec_id long, q array<bigint>, c long, d long"
    )


def _train_kmeans(qdf: DataFrame, n_vecs: int) -> dict[int, list[int]]:
    """Exact-integer Lloyd's: first-K-vec_ids init, then KMEANS_ITERS
    rounds of assign + half-up integer recenter, all over the
    deterministic training sample (whole corpus in the fixture
    regime). With K ≈ √N, full-corpus training is N^1.5 per pass — the
    sample caps it at (TRAIN_FACTOR·K)×K per pass. Returns the
    centroids as cluster id -> quantized vector (K×dim driver ints)."""
    k = ann_k(n_vecs, KMEANS_K)
    qdf_t = qdf.filter(F.col("vec_id") < ann_train_n(n_vecs, k))
    init = qdf.filter(F.col("vec_id") < k).collect()
    cents = {int(r["vec_id"]): list(r["q"]) for r in init}
    dim = len(next(iter(cents.values())))
    for _ in range(KMEANS_ITERS):
        sums = (
            _kmeans_assign(qdf_t, cents)
            .select("c", F.posexplode("q").alias("i", "x"))
            .groupBy("c", "i")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_cents: dict[int, list[int]] = {}
        for r in sums:
            vec = new_cents.setdefault(int(r["c"]), [0] * dim)
            vec[int(r["i"])] = math.floor((2 * r["s"] + r["n"]) / (2.0 * r["n"]))
        cents = new_cents
    return cents


@query("l28_kmeans_embed", oracle=L28_ORACLE)
def l28_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Lloyd's k-means over the embedding corpus (K=
    KMEANS_K, KMEANS_ITERS re-center rounds, first-K-vec_ids init).
    Per iteration: one corpus scan computing all K distances against
    driver-held centroid literals (K*dim bounded metadata — the MLlib
    pattern, not a corpus collect), then a narrow posexplode +
    (cluster, component) agg whose shuffle is K*dim*partitions rows.
    At 100 TB you would cache/checkpoint the quantized corpus across
    iterations; the per-iteration plan is unchanged. K scales ≈√N past
    the fixture regime (``ann_k``; the oracle computes the same K from
    count(*)), and past ANN_LITERAL_MAX_K centroids the assignment
    switches from expression literals to a broadcast-join argmin
    (``_kmeans_assign``)."""
    qdf = _kmeans_quantized(spark, sf_dir)
    # training runs on the sample; only the single final assignment
    # touches all N rows
    cents = _train_kmeans(qdf, table_rowcount(sf_dir, "embeddings"))
    return _kmeans_assign(qdf, cents).select(
        "vec_id", F.col("c").alias("cluster"), F.col("d").alias("dist")
    )


# --- L30: incremental dedup against an existing corpus ------------------------

# The production shape of exact dedup at 100 TB: you almost never
# re-dedup the whole store — you dedup each incoming crawl batch (a)
# within itself and (b) against the digest index of everything already
# ingested. The batch split here is deterministic (doc_id % 5 == 0 is
# the "incoming drop", the rest is the standing corpus) so the oracle
# replays it; in production the corpus side is the persisted digest
# index, not a rescan.
#
# Scale shape: digests are computed per-row (codegen sha2); the
# corpus membership probe is ONE equi-join on the 64-char digest.
# The incoming batch is the small side; Spark shuffles both sides on
# h (hash-partitioned, spill-safe) — at a 100 TB corpus the digest
# index is bucketed by h on disk, making this a zero-shuffle
# sort-merge probe. Within-batch dedup is a window over the same
# partitioning (no extra shuffle).

INCR_BATCH_MOD = 5  # doc_id % MOD == 0 -> the incoming batch

L30_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % {INCR_BATCH_MOD} != 0
),
incoming AS (
  SELECT doc_id, sha256(text) AS h,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % {INCR_BATCH_MOD} = 0
)
SELECT i.doc_id, i.h,
       CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
            WHEN i.rn = 1 THEN 'new'
            ELSE 'dup_in_batch' END AS status
FROM incoming i LEFT JOIN corpus c ON i.h = c.h
"""


@query("l30_incremental_dedup", oracle=L30_ORACLE)
def l30_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: classify each incoming-batch document
    as 'new', 'dup_in_batch' (a batch-internal copy after the first),
    or 'dup_of_corpus' (already in the standing store). One digest
    equi-join + one window on the same key — the join and the window
    share the hash partitioning on h, so the batch is shuffled once."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    incoming = (
        d.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
        .select("doc_id", F.sha2("text", 256).alias("h"))
        .withColumn("rn", F.row_number().over(w))
    )
    out = incoming.join(corpus, "h", "left")
    status = (
        F.when(F.col("in_corpus").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("rn") == 1, F.lit("new"))
        .otherwise(F.lit("dup_in_batch"))
    )
    return out.select("doc_id", "h", status.alias("status"))


# --- L31: product-quantization ADC search (IVF-PQ building block) -------------

# Product quantization is the memory side of billion-scale ANN (the PQ
# in IVF-PQ): each vector compresses to M sub-space codebook codes
# (here PQ_M=16 subspaces × PQ_K=32 codes, 5 bits each — a 64-dim
# float vector becomes ~10 bytes), and
# query-time distance is Asymmetric Distance Computation: per query,
# precompute a (M x K) lookup table of exact query-subvector-to-
# centroid distances, then every document's approximate distance is a
# sum of M table lookups — no float math ever touches the corpus scan.
#
# Exactness for the cross-engine oracle (the l28 pattern, generalized
# per-subspace): quantize to BIGINT once at a global scale, train each
# sub-codebook with fixed-iteration exact-integer Lloyd's (init = the
# first K vec_ids' subvectors, recenter = floor((2*sum+n)/(2n)),
# argmin ties to the lowest code), and keep the ADC sums integer. The
# whole train -> encode -> LUT -> score chain is then bit-identical on
# Spark and DuckDB.

PQ_M = 16           # subspaces (64-dim -> 16 x 4)
PQ_SUBDIM = 4
PQ_K = 32           # codes per sub-codebook (recall@10 = 0.5 vs exact
                    # L2 at sf0.001, measured across codebook sizes:
                    # (K=4,M=4) 0.15 -> (16,8) 0.31 -> (32,16) 0.5)
PQ_ITERS = 2        # recenter rounds (assignments run ITERS+1 times)
PQ_QUERIES = 10     # probe set: vec_id < 10
PQ_TOPK = 10


def _pq_sql() -> str:
    parts = [
        f"""
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE} + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
comp AS (
  SELECT vec_id, unnest(range(0, len(q))) AS i, unnest(q) AS x FROM q
),
sc AS (
  SELECT vec_id, CAST(i // {PQ_SUBDIM} AS BIGINT) AS s,
         CAST(i % {PQ_SUBDIM} AS BIGINT) AS j, x
  FROM comp
),
sc_t AS (
  SELECT * FROM sc WHERE vec_id < {ann_train_n_sql(PQ_K, cap=256)}
),
cent0 AS (
  SELECT vec_id AS c, s, j, x AS ci FROM sc WHERE vec_id < {ann_k_sql(PQ_K, cap=256)}
)"""
    ]
    for t in range(PQ_ITERS + 1):
        # training assignments (t < ITERS) run over the deterministic
        # sample; the final t == ITERS pass is the full-corpus encode
        src = "sc_t" if t < PQ_ITERS else "sc"
        parts.append(f""",
a{t} AS (
  SELECT {src}.vec_id, {src}.s, cent{t}.c,
         CAST(sum(({src}.x - cent{t}.ci) * ({src}.x - cent{t}.ci)) AS BIGINT) AS d
  FROM {src} JOIN cent{t} ON {src}.s = cent{t}.s AND {src}.j = cent{t}.j
  GROUP BY {src}.vec_id, {src}.s, cent{t}.c
),
asg{t} AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
    FROM a{t}
  ) WHERE rn = 1
)""")
        if t < PQ_ITERS:
            parts.append(f""",
cent{t + 1} AS (
  SELECT asg{t}.c, sc_t.s, sc_t.j,
         CAST(floor((2 * sum(sc_t.x) + count(*)) / (2.0 * count(*))) AS BIGINT) AS ci
  FROM asg{t} JOIN sc_t ON asg{t}.vec_id = sc_t.vec_id AND asg{t}.s = sc_t.s
  GROUP BY asg{t}.c, sc_t.s, sc_t.j
)""")
    parts.append(f""",
lut AS (
  SELECT p.vec_id AS query_id, cent{PQ_ITERS}.s, cent{PQ_ITERS}.c,
         CAST(sum((p.x - cent{PQ_ITERS}.ci) * (p.x - cent{PQ_ITERS}.ci)) AS BIGINT) AS pd
  FROM sc p JOIN cent{PQ_ITERS} ON p.s = cent{PQ_ITERS}.s AND p.j = cent{PQ_ITERS}.j
  WHERE p.vec_id < {PQ_QUERIES}
  GROUP BY p.vec_id, cent{PQ_ITERS}.s, cent{PQ_ITERS}.c
),
scored AS (
  SELECT l.query_id, codes.vec_id, CAST(sum(l.pd) AS BIGINT) AS adc
  FROM asg{PQ_ITERS} codes JOIN lut l ON codes.s = l.s AND codes.c = l.c
  WHERE codes.vec_id <> l.query_id
  GROUP BY l.query_id, codes.vec_id
)""")
    return "".join(parts)


L31_ORACLE = f"""
WITH {_pq_sql()}
SELECT query_id, vec_id, adc AS adc_dist, CAST(rn AS BIGINT) AS rnk FROM (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
  FROM scored
) WHERE rn <= {PQ_TOPK}
"""


def _pq_search_vectorized(
    spark: SparkSession, sf_dir: str, n_vecs: int, pq_k: int
) -> DataFrame:
    """l31's large-K path: per-subspace train/encode as vectorized
    Arrow/numpy kernels instead of tall-frame joins. The join form
    materializes N×M×K rows per pass (measured 4.5× at the 10× smoke
    even after sample-training); the kernel does the same exact int64
    arithmetic batched — argmin over cid-sorted codebooks reproduces
    the (d, c) tie-break, recenter uses the identical
    floor((2·sum+n)/(2n)), so results (and the oracle) are unchanged.
    Codebooks are per-subspace (cid, vec) pairs because recenter drops
    emptied codes independently per subspace, exactly like the SQL's
    cent{t+1} grouping."""
    import numpy as np

    qdf = _kmeans_quantized(spark, sf_dir)
    train_n = ann_train_n(n_vecs, pq_k)
    qdf_t = qdf.filter(F.col("vec_id") < train_n)

    init = qdf.filter(F.col("vec_id") < pq_k).collect()
    vecs = {int(r["vec_id"]): list(r["q"]) for r in init}
    cids0 = np.array(sorted(vecs), dtype=np.int64)
    codebooks = [
        (
            cids0,
            np.array(
                [vecs[int(c)][s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM] for c in cids0],
                dtype=np.int64,
            ),
        )
        for s in range(PQ_M)
    ]

    def subspace_argmin(Qs: "np.ndarray", cb: "np.ndarray") -> "np.ndarray":
        # ||q-c||² expanded — exact int64; first min = lowest cid index
        d = (Qs * Qs).sum(1)[:, None] - 2 * (Qs @ cb.T) + (cb * cb).sum(1)[None, :]
        return d.argmin(1), d

    def make_train(books):
        def fn(it):
            import pandas as pd

            sums = [np.zeros_like(cb) for _, cb in books]
            counts = [np.zeros(len(cb), dtype=np.int64) for _, cb in books]
            seen = False
            for pdf in it:
                if not len(pdf):
                    continue
                seen = True
                Q = np.array(pdf["q"].tolist(), dtype=np.int64).reshape(
                    len(pdf), PQ_M, PQ_SUBDIM
                )
                for s, (_, cb) in enumerate(books):
                    a, _ = subspace_argmin(Q[:, s, :], cb)
                    np.add.at(sums[s], a, Q[:, s, :])
                    np.add.at(counts[s], a, 1)
            if seen:
                rows = []
                for s, (cids_s, _) in enumerate(books):
                    for idx in np.nonzero(counts[s])[0]:
                        for j in range(PQ_SUBDIM):
                            rows.append(
                                (s, int(cids_s[idx]), j,
                                 int(sums[s][idx][j]), int(counts[s][idx]))
                            )
                yield pd.DataFrame(rows, columns=["s", "c", "j", "sx", "n"])

        return fn

    for _ in range(PQ_ITERS):
        partials = qdf_t.mapInPandas(
            make_train(codebooks), "s long, c long, j long, sx long, n long"
        )
        agg = (
            partials.groupBy("s", "c", "j")
            .agg(F.sum("sx").alias("sx"), F.sum("n").alias("n"))
            .collect()
        )
        per_s: dict[int, dict[int, list[int]]] = {}
        for r in agg:
            vec = per_s.setdefault(int(r["s"]), {}).setdefault(
                int(r["c"]), [0] * PQ_SUBDIM
            )
            vec[int(r["j"])] = math.floor((2 * r["sx"] + r["n"]) / (2.0 * r["n"]))
        codebooks = [
            (
                np.array(sorted(per_s.get(s, {})), dtype=np.int64),
                np.array(
                    [per_s[s][int(c)] for c in sorted(per_s.get(s, {}))],
                    dtype=np.int64,
                ).reshape(-1, PQ_SUBDIM),
            )
            for s in range(PQ_M)
        ]

    final_books = codebooks

    def encode(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            Q = np.array(pdf["q"].tolist(), dtype=np.int64).reshape(
                len(pdf), PQ_M, PQ_SUBDIM
            )
            out_c = np.empty((len(pdf), PQ_M), dtype=np.int64)
            for s, (cids_s, cb) in enumerate(final_books):
                a, _ = subspace_argmin(Q[:, s, :], cb)
                out_c[:, s] = cids_s[a]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), PQ_M),
                    "s": np.tile(np.arange(PQ_M, dtype=np.int64), len(pdf)),
                    "c": out_c.reshape(-1),
                }
            )

    codes = qdf.mapInPandas(encode, "vec_id long, s long, c long")

    # per-query LUT: queries are a bounded probe set — exact distances
    # to every code, computed driver-side (10 × M × K integers)
    q_rows = qdf.filter(F.col("vec_id") < PQ_QUERIES).collect()
    lut_rows = []
    for r in q_rows:
        qv = np.array(r["q"], dtype=np.int64).reshape(PQ_M, PQ_SUBDIM)
        for s, (cids_s, cb) in enumerate(final_books):
            d = ((qv[s][None, :] - cb) ** 2).sum(1)
            for idx, c in enumerate(cids_s):
                lut_rows.append((int(r["vec_id"]), s, int(c), int(d[idx])))
    lut = spark.createDataFrame(
        lut_rows, "query_id long, s long, c long, pd long"
    )

    from pyspark.sql import Window

    scored = (
        codes.join(F.broadcast(lut), ["s", "c"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "vec_id", "adc_dist", "rnk")
    )


@query("l31_pq_search", oracle=L31_ORACLE)
def l31_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k search over the embedding corpus.

    Pipeline (one tall integer frame, everything JVM-side):
    quantize -> per-subspace exact-integer Lloyd's (PQ_ITERS=2 rounds,
    all 16 sub-codebooks trained in ONE set of grouped aggregates —
    subspace id is just a grouping column) -> encode every vector to
    16 codes -> per-query LUT of exact subvector-to-centroid
    distances (10x16x32 rows — bounded metadata) -> ADC scoring as a
    broadcast join of the corpus codes against the LUT + one
    (query, vec) sum -> per-query top-10.

    Scale: the corpus is touched by narrow quantize/encode scans and
    one code-vs-LUT broadcast join (codes are 16 small ints per doc —
    the memory compression is the point of PQ); the only wide
    shuffles move (corpus x M) code rows and (queries x corpus)
    partial sums, the latter bounded by the probe set like l3. At
    100 TB you train codebooks on a sample and reuse them; the
    centroid state is K*dim integers — driver metadata, like l28. The
    exact-integer construction (scale-10000 quantization,
    floor-half-up recenter, lowest-code tie-breaks) makes every stage
    bit-identical to the DuckDB oracle; recall vs the exact l3 scan is
    pinned by pytest, not by the oracle (approximation is the point).
    """
    from pyspark.sql import Window

    # codes per sub-codebook: the measured fixture constant up to
    # ANN_SMALL_N vectors, ≈√N past it (capped at the conventional
    # 256-code byte budget) — the oracle computes the identical K.
    # Training runs over the deterministic sample (whole corpus in the
    # fixture regime); only the final encode touches all N vectors.
    # Past the fixture regime the tall-frame joins below give way to
    # the vectorized per-subspace kernel (identical results).
    n_vecs = table_rowcount(sf_dir, "embeddings")
    pq_k = ann_k(n_vecs, PQ_K, cap=256)
    if pq_k > ANN_LITERAL_MAX_K:
        return _pq_search_vectorized(spark, sf_dir, n_vecs, pq_k)

    e = load_table(spark, sf_dir, "embeddings")
    tall = (
        e.select(
            "vec_id",
            F.posexplode(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x: F.floor(x * KMEANS_SCALE + F.lit(0.5)).cast("long"),
                )
            ).alias("i", "x"),
        )
        .select(
            "vec_id",
            (F.col("i") / PQ_SUBDIM).cast("long").alias("s"),
            (F.col("i") % PQ_SUBDIM).cast("long").alias("j"),
            "x",
        )
        .localCheckpoint(eager=True)
    )
    tall_t = tall.filter(F.col("vec_id") < ann_train_n(n_vecs, pq_k))
    cents = tall.filter(F.col("vec_id") < pq_k).select(
        F.col("vec_id").alias("c"), "s", "j", F.col("x").alias("ci")
    )

    def assign(cent: DataFrame, src: DataFrame) -> DataFrame:
        d = (
            src.join(F.broadcast(cent), ["s", "j"])
            .groupBy("vec_id", "s", "c")
            .agg(F.sum((F.col("x") - F.col("ci")) * (F.col("x") - F.col("ci"))).alias("d"))
        )
        return (
            d.groupBy("vec_id", "s")
            .agg(F.min(F.struct("d", "c")).alias("m"))
            .select("vec_id", "s", F.col("m.c").alias("c"))
        )

    for _ in range(PQ_ITERS):
        asg = assign(cents, tall_t)
        cents = (
            asg.join(tall_t, ["vec_id", "s"])
            .groupBy("c", "s", "j")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
            .select(
                "c",
                "s",
                "j",
                F.floor((2 * F.col("sx") + F.col("n")) / (2.0 * F.col("n")))
                .cast("long")
                .alias("ci"),
            )
            .localCheckpoint(eager=True)
        )
    codes = assign(cents, tall)

    lut = (
        tall.filter(F.col("vec_id") < PQ_QUERIES)
        .join(F.broadcast(cents), ["s", "j"])
        .groupBy(F.col("vec_id").alias("query_id"), "s", "c")
        .agg(F.sum((F.col("x") - F.col("ci")) * (F.col("x") - F.col("ci"))).alias("pd"))
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "c"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "vec_id", "adc_dist", "rnk")
    )


# --- L3d: IVF ANN with a full train->assign->probe->score oracle --------------

# Completes the similarity-search evidence ladder: l3 exact scan, l3b
# hyperplane LSH, l3c IVF (rows-only recall tier), l31 PQ/ADC — and now
# an IVF variant whose ENTIRE pipeline is exact-integer and therefore
# cross-engine hash-checkable, built on l28's Lloyd's formulation
# (same scale, same init, same recenter rule, same tie-breaks).
L3D_IVF_NPROBE = 2
L3D_IVF_QUERIES = 10
L3D_IVF_TOPK = 10


def _probe_cells(
    qdf: DataFrame, cents: dict[int, list[int]], n_queries: int, nprobe: int
) -> DataFrame:
    """(query_id, qq, c) — each query's ``nprobe`` nearest cells,
    ties to the lower cluster id. Literal-expression array-sort below
    ANN_LITERAL_MAX_K centroids; at √N-scale K the identical sort/slice
    expressions run over the one-row broadcast centroid array column
    instead of literals — scan-local either way."""
    q = qdf.filter(F.col("vec_id") < n_queries)
    if len(cents) <= ANN_LITERAL_MAX_K:
        return (
            q.select(
                F.col("vec_id").alias("query_id"),
                F.col("q").alias("qq"),
                F.explode(
                    F.slice(F.array_sort(_kmeans_dist_structs(cents)), 1, nprobe)
                ).alias("p"),
            )
            .select("query_id", "qq", F.col("p.c").alias("c"))
        )
    return (
        q.crossJoin(F.broadcast(_centroid_row(qdf, cents)))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.explode(
                F.slice(F.array_sort(_cent_dist_structs(F.col("cents"))), 1, nprobe)
            ).alias("p"),
        )
        .select("query_id", "qq", F.col("p.c").alias("c"))
    )


def _ivf_ctes() -> str:
    """The full IVF chain (train → assign → probe → score → rank) as a
    CTE fragment, shared by the l3d oracle and the l54 recall-eval
    oracle (which compares the same chain against an exact brute-force
    top-k over the identical quantized space)."""
    n = KMEANS_ITERS
    return f"""{_kmeans_sql_iters()},
asg_fin AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM afin
  ) WHERE rn = 1
),
qcent AS (
  SELECT comp.vec_id AS query_id, cent{n}.c,
         CAST(sum((comp.x - cent{n}.ci) * (comp.x - cent{n}.ci)) AS BIGINT) AS d
  FROM comp JOIN cent{n} USING (i)
  WHERE comp.vec_id < {L3D_IVF_QUERIES}
  GROUP BY comp.vec_id, cent{n}.c
),
probe AS (
  SELECT query_id, c FROM (
    SELECT query_id, c, row_number() OVER (PARTITION BY query_id ORDER BY d, c) AS rn
    FROM qcent
  ) WHERE rn <= {L3D_IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probe p JOIN asg_fin a ON a.c = p.c
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         CAST(sum((cq.x - cv.x) * (cq.x - cv.x)) AS BIGINT) AS dist
  FROM cand
  JOIN comp cq ON cq.vec_id = cand.query_id
  JOIN comp cv ON cv.vec_id = cand.vec_id AND cv.i = cq.i
  GROUP BY cand.query_id, cand.vec_id
),
ivf_topk AS (
  SELECT query_id, vec_id, dist, rn FROM (
    SELECT query_id, vec_id, dist,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
    FROM scored
  ) WHERE rn <= {L3D_IVF_TOPK}
)"""


def _ivf_oracle() -> str:
    return f"""
WITH {_ivf_ctes()}
SELECT query_id, vec_id, dist, CAST(rn AS BIGINT) AS rnk FROM ivf_topk
"""


@query("l3d_ivf_exact", oracle=_ivf_oracle())
def l3d_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose whole pipeline carries a value-exact oracle:
    train the coarse quantizer with l28's exact-integer Lloyd's (same
    constants), assign every vector to its nearest centroid (the
    inverted file), probe each query's L3D_IVF_NPROBE nearest cells, and
    score ONLY the vectors in probed cells with exact integer L2 —
    top-10 per query, ties to the lower vec_id.

    Scale shape: the inverted file is the corpus partitioned by
    cluster id (at 100 TB: physically partitioned by c, so a probe
    reads nprobe/K of the data — the entire point of IVF); centroids
    are K×dim driver metadata; the probe set is bounded like l3/l31,
    so the scoring join is (queries × probed fraction of corpus),
    never all-pairs. Recall vs the exact scan is whatever the probed
    cells contain — measured and pinned in pytest, while the oracle
    pins that train/assign/probe/score compute EXACTLY what they
    claim (l3c remains the rows-only demonstrator of the float
    variant).
    """
    qdf = _kmeans_quantized(spark, sf_dir)
    # train on the sample (as l28) — only the inverted-file build and
    # scoring touch the full corpus
    cents = _train_kmeans(qdf, table_rowcount(sf_dir, "embeddings"))
    inverted = _kmeans_assign(qdf, cents).select("vec_id", "q", "c")
    probes = _probe_cells(qdf, cents, L3D_IVF_QUERIES, L3D_IVF_NPROBE)
    scored = (
        probes.join(inverted, "c")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with("qq", "q", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("dist"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= L3D_IVF_TOPK)
        .select("query_id", "vec_id", "dist", "rnk")
    )


# --- L54: ANN quality evaluation (recall@k / MRR vs exact, oracle-exact) ------

L54_ORACLE = f"""
WITH {_ivf_ctes()},
exact_sc AS (
  SELECT cq.vec_id AS query_id, cv.vec_id,
         CAST(sum((cq.x - cv.x) * (cq.x - cv.x)) AS BIGINT) AS dist
  FROM comp cq JOIN comp cv ON cv.i = cq.i AND cv.vec_id <> cq.vec_id
  WHERE cq.vec_id < {L3D_IVF_QUERIES}
  GROUP BY cq.vec_id, cv.vec_id
),
exact_topk AS (
  SELECT query_id, vec_id, rn FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
    FROM exact_sc
  ) WHERE rn <= {L3D_IVF_TOPK}
),
hits AS (
  SELECT e.query_id, CAST(count(*) AS BIGINT) AS hits
  FROM exact_topk e
  JOIN ivf_topk v ON v.query_id = e.query_id AND v.vec_id = e.vec_id
  GROUP BY e.query_id
),
nn AS (SELECT query_id, vec_id FROM exact_topk WHERE rn = 1),
rr AS (
  SELECT n.query_id,
         CAST(coalesce(max(1000000 // v.rn), 0) AS BIGINT) AS rr_ppm
  FROM nn n
  LEFT JOIN ivf_topk v ON v.query_id = n.query_id AND v.vec_id = n.vec_id
  GROUP BY n.query_id
)
SELECT q.query_id,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       CAST(coalesce(h.hits, 0) * 10000 // {L3D_IVF_TOPK} AS BIGINT) AS recall_bp,
       rr.rr_ppm
FROM (SELECT DISTINCT query_id FROM exact_topk) q
LEFT JOIN hits h USING (query_id)
JOIN rr USING (query_id)
"""


@query("l54_ann_recall_eval", oracle=L54_ORACLE)
def l54_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class operator: per query,
    recall@{L3D_IVF_TOPK} and the reciprocal rank of the TRUE nearest
    neighbor, comparing l3d's IVF list against an exact integer-L2
    brute-force top-k over the SAME quantized space. Until now the
    IVF recall floor lived only in pytest; this makes the eval itself
    oracle-checked — recall_bp (basis points, hits×10000 div k) and
    rr_ppm (1e6 div rank of the exact top-1 inside the IVF list, 0 if
    missed) are pure integer arithmetic, so DuckDB replays the entire
    train→assign→probe→score→eval chain value-exactly.

    Scale shape: the exact side is the eval harness, not the serving
    path — Q×corpus distances computed in an Arrow numpy kernel
    (int64, vectorized per partition, each partition emitting only its
    local top-k per query; the global top-k window sees
    O(partitions × Q × k) rows). At 100 TB the same kernel evaluates
    a SAMPLED query set against the full corpus — the standard
    recall-audit pattern for a production ANN index. IVF side reuses
    l3d verbatim."""
    import numpy as np
    import pandas as pd

    ivf = l3d_ivf_exact(spark, sf_dir).select("query_id", "vec_id", "rnk")
    qdf = _kmeans_quantized(spark, sf_dir)
    qrows = qdf.filter(F.col("vec_id") < L3D_IVF_QUERIES).collect()
    qids = sorted(int(r["vec_id"]) for r in qrows)
    qmat = {int(r["vec_id"]): np.array(r["q"], dtype=np.int64) for r in qrows}
    topk = L3D_IVF_TOPK

    def brute(batch_iter):
        # partition-local exact top-k per query, accumulated across the
        # Arrow batch iterator (emit once per partition — the ADVICE
        # r13 rule; output is O(Q × k) rows per partition)
        best: dict[int, list] = {qi: [] for qi in qids}
        import heapq

        for pdf in batch_iter:
            if not len(pdf):
                continue
            V = np.array(pdf["q"].tolist(), dtype=np.int64)
            vid = pdf["vec_id"].to_numpy(np.int64)
            for qi in qids:
                diff = V - qmat[qi][None, :]
                dist = np.einsum("ij,ij->i", diff, diff)
                mask = vid != qi
                d, v = dist[mask], vid[mask]
                # ties break on (dist, vec_id): push negatives for a
                # max-heap of the current k best
                h = best[qi]
                for di, vi in zip(d.tolist(), v.tolist()):
                    item = (-di, -vi)
                    if len(h) < topk:
                        heapq.heappush(h, item)
                    elif item > h[0]:
                        heapq.heapreplace(h, item)
        rows = [
            (qi, -nvi, -ndi)
            for qi, h in best.items()
            for ndi, nvi in h
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["query_id", "vec_id", "dist"])

    partials = qdf.mapInPandas(
        brute, schema="query_id long, vec_id long, dist long"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    exact = (
        partials.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("query_id", "vec_id", "rn")
    )
    hits = (
        exact.join(ivf, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    nn = exact.filter(F.col("rn") == 1).select("query_id", "vec_id")
    rr = (
        nn.join(ivf, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(
                F.max(F.expr("1000000 DIV rnk")), F.lit(0)
            ).cast("long").alias("rr_ppm")
        )
    )
    base = exact.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .join(rr, "query_id")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.expr(f"CAST(coalesce(hits, 0) * 10000 DIV {topk} AS BIGINT)").alias(
                "recall_bp"
            ),
            "rr_ppm",
        )
    )


# --- L34: incremental near-dup gate against a standing corpus -----------------

# l30 is the incremental EXACT-dedup gate (digest equality); this is
# its near-dup twin — the crawl-ingest question "is this new document a
# ≥0.8-Jaccard rewrite of anything we already hold?", answered per
# incoming doc with the best corpus match. Same deterministic batch
# split as l30 (doc_id % 5 == 0 is the incoming drop).
L34_THRESHOLD = 0.8
L34_BATCH_MOD = 5

L34_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS din, b.doc_id AS dc, count(*) AS i
  FROM tok a JOIN tok b ON a.token = b.token
  WHERE a.doc_id % {L34_BATCH_MOD} = 0 AND b.doc_id % {L34_BATCH_MOD} != 0
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT din, dc, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jac
  FROM inter
  JOIN sz sa ON sa.doc_id = din
  JOIN sz sb ON sb.doc_id = dc
),
best AS (
  SELECT din, dc, jac FROM (
    SELECT din, dc, jac,
           row_number() OVER (PARTITION BY din ORDER BY jac DESC, dc) AS rn
    FROM scored WHERE jac >= {L34_THRESHOLD}
  ) WHERE rn = 1
)
SELECT d.doc_id, b.dc AS matched_doc, round(b.jac, 4) AS match_jac,
       CASE WHEN b.dc IS NOT NULL THEN 'near_dup' ELSE 'novel' END AS status
FROM (SELECT doc_id FROM documents WHERE doc_id % {L34_BATCH_MOD} = 0) d
LEFT JOIN best b ON b.din = d.doc_id
"""


@query("l34_incremental_neardup", oracle=L34_ORACLE)
def l34_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each incoming-batch document as 'near_dup' (≥0.8 exact
    Jaccard against SOME standing-corpus doc — reported with the best
    match and its similarity, ties to the lower corpus id) or 'novel'.

    Batch-vs-corpus is asymmetric all-pairs: the incoming drop probes
    the task-resident standing-corpus bitmap matrix through the
    asymmetric ``_jaccard_matrix_kernel`` (r15 — the last
    interpreted-HOF pair loop on the dedup path; the r14 l2b lesson:
    the crossJoin + zip_with/aggregate form evaluated ~3M pairs at
    sf0.1 through interpreted Catalyst lambdas), argmax per incoming
    doc via one max(struct) aggregate over the kernel's ≥threshold
    emissions. At 100 TB the standing side is the persisted MinHash
    band index and the kernel verifies only band-colliding candidates
    (``_band_hashes`` / ``_lsh_candidate_pairs`` are exactly that
    machinery, measured in l2's banded path); the exact kernel here
    keeps the full-oracle evidence, like l2b below its cost boundary.
    """
    d = load_table(spark, sf_dir, "documents")
    repr_df, jac_fn, is_bitmap = _jaccard_repr_modes(d)
    if is_bitmap:
        n_parts = max(2, (spark.sparkContext.defaultParallelism or 8) * 2)
        ids, mat = _collect_bitmap_matrix(repr_df)
        corp_sel = ids % L34_BATCH_MOD != 0
        # probe = the incoming drop, corpus = the standing side; the
        # closure ships each matrix row exactly once (inc slice + corp
        # slice partition the full matrix)
        scored = _probe_pos_frame(spark, int((~corp_sel).sum()), n_parts).mapInPandas(
            _jaccard_matrix_kernel(
                ids[~corp_sel],
                mat[~corp_sel],
                ids[corp_sel],
                mat[corp_sel],
                L34_THRESHOLD,
                lt_only=False,
            ),
            schema="doc_a long, doc_b long, jac_raw double",
        )
        pairs = scored.select(
            F.col("doc_a").alias("din"),
            F.col("doc_b").alias("dc"),
            F.col("jac_raw").alias("jac"),
        )
    else:
        inc = repr_df.filter(F.col("doc_id") % L34_BATCH_MOD == 0).select(
            F.col("doc_id").alias("din"), F.col("jr").alias("ja")
        )
        corp = repr_df.filter(F.col("doc_id") % L34_BATCH_MOD != 0).select(
            F.col("doc_id").alias("dc"), F.col("jr").alias("jb")
        )
        jac = jac_fn(F.col("ja"), F.col("jb"))
        pairs = (
            inc.crossJoin(F.broadcast(corp))
            .select("din", "dc", jac.alias("jac"))
            .filter(F.col("jac") >= L34_THRESHOLD)
        )
    best = (
        pairs.groupBy("din")
        .agg(F.max(F.struct(F.col("jac"), (-F.col("dc")).alias("negdc"))).alias("m"))
        .select(
            "din",
            (-F.col("m.negdc")).alias("matched_doc"),
            F.col("m.jac").alias("best_jac"),
        )
    )
    incoming_ids = d.filter(F.col("doc_id") % L34_BATCH_MOD == 0).select("doc_id")
    out = incoming_ids.join(best, incoming_ids.doc_id == best.din, "left")
    return out.select(
        "doc_id",
        "matched_doc",
        F.round("best_jac", 4).alias("match_jac"),
        F.when(F.col("matched_doc").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("novel"))
        .alias("status"),
    )


# --- L35: embedding normalization / matryoshka truncation probe ---------------

# Matryoshka-style retrieval keeps a PREFIX of each embedding and
# hopes the energy lives there; this operator measures it exactly.
# Everything follows the l28 exactness recipe: quantize once at
# KMEANS_SCALE, integer squared sums (order-free on any partitioning;
# DuckDB widens to HUGEINT), and the only float ops are identical
# IEEE expressions over those exact integers — so the whole probe,
# including the unit-norm head component, is value-hash checkable.
L35_HEAD_DIMS = 16

L35_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
comp AS (
  SELECT vec_id, unnest(range(0, len(qv))) AS i, unnest(qv) AS x FROM q
)
SELECT vec_id,
       CAST(sum(x * x) AS BIGINT) AS norm_sq,
       CAST(sum(CASE WHEN i < {L35_HEAD_DIMS} THEN x * x ELSE 0 END) AS BIGINT)
         AS head_sq,
       CAST(sum(CASE WHEN i < {L35_HEAD_DIMS} THEN x * x ELSE 0 END) AS DOUBLE)
         / CAST(sum(x * x) AS DOUBLE) AS retained,
       CAST(floor(max(CASE WHEN i = 0 THEN x END)
                    / sqrt(CAST(sum(x * x) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS unit0_fp
FROM comp GROUP BY vec_id
"""


@query("l35_matryoshka_probe", oracle=L35_ORACLE)
def l35_matryoshka_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector matryoshka truncation quality: exact squared norms of
    the full embedding and its first-16-dim head, the retained-energy
    ratio, and the unit-normalized first component in 1e-6 fixed
    point. One narrow scan, all higher-order array functions — no
    explode, no shuffle beyond none at all (per-row projection), no
    Python. The decision input for "can this corpus serve retrieval
    from 16 of 64 dims" at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * KMEANS_SCALE + F.lit(0.5)).cast("long"),
    )
    sumsq = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    out = e.select(
        "vec_id",
        sumsq(qv).alias("norm_sq"),
        sumsq(F.slice(qv, 1, L35_HEAD_DIMS)).alias("head_sq"),
        F.element_at(qv, 1).alias("x0"),
    )
    return out.select(
        "vec_id",
        "norm_sq",
        "head_sq",
        (F.col("head_sq").cast("double") / F.col("norm_sq").cast("double")).alias(
            "retained"
        ),
        F.floor(
            F.col("x0") / F.sqrt(F.col("norm_sq").cast("double")) * 1000000 + 0.5
        )
        .cast("long")
        .alias("unit0_fp"),
    )


# --- L36: quality-weighted deterministic sampling -----------------------------

# Curation pipelines rarely sample uniformly — they keep high-quality
# documents at a higher rate. This composes the l4b quality signals
# with o17's MINSTD-hash membership: per-doc keep rate in basis points
# derived from integer quality features, membership decided by the
# deterministic per-row hash — so the weighted sample is exactly
# reproducible on any partitioning AND full-oracle checkable (both the
# rate arithmetic and the hash are pure integer SQL).
L36_M = 2_147_483_647
L36_A = 48271

L36_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
         (doc_id % {L36_M}) * {L36_A} % {L36_M} AS u
  FROM documents
),
rated AS (
  SELECT doc_id, n_tokens, u,
         LEAST(CAST(9000 AS BIGINT), (n_uniq * 20000) // (n_tokens * 3)) AS rate_bp
  FROM scored
)
SELECT doc_id, n_tokens, rate_bp, u
FROM rated WHERE u % 10000 < rate_bp
"""


@query("l36_weighted_sample", oracle=L36_ORACLE)
def l36_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sample: each document's keep rate is an
    integer function of its uniqueness ratio (capped at 90%), and
    membership is the MINSTD hash of its id — deterministic,
    partitioning-invariant, one stateless scan, no shuffle. The shape
    of every production "sample the good stuff harder" curation pass,
    with a full value oracle where an RNG sampler can never have one."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    u = (F.pmod(F.col("doc_id"), F.lit(L36_M)) * L36_A) % L36_M
    scored = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq"),
        u.cast("long").alias("u"),
    ).withColumn(
        "rate_bp",
        F.least(
            F.lit(9000).cast("long"),
            F.expr("(n_uniq * 20000) div (n_tokens * 3)"),
        ),
    )
    return scored.filter(F.col("u") % 10000 < F.col("rate_bp")).select(
        "doc_id", "n_tokens", "rate_bp", "u"
    )


# --- L37: leakage-free train/test split ---------------------------------------

# Random train/test splits leak: a near-duplicate of a training doc in
# the test set inflates every eval. The leakage-free split assigns
# whole NEAR-DUP CLUSTERS (l8's connected components) to a side, so no
# ≥0.8-Jaccard pair can ever cross the boundary; the side is chosen by
# the deterministic MINSTD hash of the cluster id (≈10% test), making
# the split reproducible on any cluster layout AND full-oracle
# checkable (the oracle rebuilds the same components via the bounded
# pointer-jumping propagation and applies the same hash).
L37_TEST_BP = 1000  # basis points of clusters routed to test

L37_ORACLE = f"""
WITH src AS (SELECT doc_id, text FROM documents),
{{closure}}
SELECT doc_id, cluster_id,
       CASE WHEN ((cluster_id % {{m}}) * {{a}} % {{m}}) % 10000 < {L37_TEST_BP}
            THEN 'test' ELSE 'train' END AS split
FROM cc
"""


@query(
    "l37_leakage_free_split",
    oracle=L37_ORACLE.format(
        closure=_cc_pairs_and_closure_sql("src", MINHASH_THRESHOLD),
        m=2_147_483_647,
        a=48271,
    ),
)
def l37_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split with a no-leakage guarantee: every document
    carries its near-dup cluster id (min-label connected components
    over the exact ≥0.8-Jaccard pair graph — l8's machinery), and the
    whole cluster goes to 'test' iff MINSTD(cluster_id) lands in the
    10% band. Pytest proves the guarantee directly: no verified
    near-dup pair crosses the split. Scale shape = l8's (iterative
    label propagation, pairs from the cost-based l2 strategy) plus one
    stateless hash expression — nothing new shuffles."""
    d = load_table(spark, sf_dir, "documents")
    pairs = l2_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_propagation(d, pairs)
    m, a = 2_147_483_647, 48271
    u = (F.pmod(F.col("label"), F.lit(m)) * a) % m
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.when(u % 10000 < L37_TEST_BP, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# --- L51: quality-based survivorship within near-dup clusters ------------------

L51_ORACLE = f"""
WITH src AS (SELECT doc_id, text FROM documents),
{_cc_pairs_and_closure_sql("src", MINHASH_THRESHOLD)},
scored AS (
  SELECT d.doc_id,
         CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT)
           * 1000000 // len(string_split(d.text, ' ')) AS uniq_ppm,
         d.n_chars
  FROM documents d
),
ranked AS (
  SELECT c.doc_id, c.cluster_id, s.uniq_ppm, s.n_chars,
         row_number() OVER (
           PARTITION BY c.cluster_id
           ORDER BY s.uniq_ppm DESC, s.n_chars DESC, c.doc_id
         ) AS qrank
  FROM cc c JOIN scored s ON s.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, uniq_ppm,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(qrank = 1 AS INTEGER) AS keep
FROM ranked
"""


@query("l51_cluster_survivorship", oracle=L51_ORACLE)
def l51_cluster_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy for near-dup clusters: keep the HIGHEST-
    QUALITY member, not the smallest doc_id. l8 answers "which docs
    are the same"; this answers the question production pipelines
    actually act on — "which copy do we train on" (the cleanest /
    longest variant, not whichever crawled first). Keeper = max
    (token-uniqueness ppm, then n_chars, then min doc_id) within each
    connected component of the near-dup graph.

    The quality key is INTEGER-exact (uniq_ppm = distinct-token count
    x 1e6 div token count — a float ratio would make the argmax
    engine-sensitive at ties/precision), so the per-cluster
    row_number is deterministic on both engines. Clusters come from
    the same min-label propagation as l8 (one exchange per round,
    lineage checkpointed); scoring is one map-side pass; the keeper
    choice is one cluster_id window. Oracle: the shared CC closure
    block + identical integer scoring + the same window."""
    d = load_table(spark, sf_dir, "documents")
    pairs = l2_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_propagation(d, pairs)
    scored = d.select(
        "doc_id",
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " * 1000000 div size(split(text, ' '))"
        ).alias("uniq_ppm"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("cluster_id").orderBy(
        F.col("uniq_ppm").desc(), F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labels.select("doc_id", F.col("label").alias("cluster_id"))
        .join(scored, "doc_id")
        .withColumn("qrank", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "uniq_ppm",
            "n_chars",
            (F.col("qrank") == 1).cast("int").alias("keep"),
        )
    )
