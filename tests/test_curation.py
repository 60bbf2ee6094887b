"""Semantic properties of the corpus-curation operators (L10-L14):
decontamination soundness, repetition-metric bounds, scrub audit
consistency, chunk reassembly, and hash-sample determinism. Value
parity with DuckDB is covered by the oracle sweep; these tests pin
the properties a user of the pipeline relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.operators.curation import (
    BENCH_MOD,
    CHUNK_TOKENS,
    SAMPLE_HEX_DIGITS,
)
from sparkstreaming_mq_spark.tables import load_table

registry.load_all()
Q = registry.QUERIES


def test_decontaminate_excludes_benchmark_and_is_sound(spark, sf_dir):
    out = Q["l10_decontaminate"](spark, sf_dir).toPandas()
    assert (out["doc_id"] % BENCH_MOD != 0).all(), "benchmark docs must not be scored"
    flagged = out[out["contaminated"] == 1]
    assert (flagged["n_hit_ngrams"] > 0).all()
    assert (out[out["contaminated"] == 0]["n_hit_ngrams"] == 0).all()
    # every doc appears exactly once
    assert out["doc_id"].is_unique


def test_repetition_metrics_bounded(spark, sf_dir):
    out = Q["l11_repetition"](spark, sf_dir).toPandas()
    assert out["top_token_frac"].between(0, 1).all()
    assert out["dup_bigram_frac"].between(0, 1).all()
    # at least 1/n_tokens by construction (1e-4 covers the 4-decimal
    # rounding of the emitted ratio)
    assert (out["top_token_frac"] >= 1.0 / out["n_tokens"] - 1e-4).all()


def test_scrub_counts_match_replacements(spark, sf_dir):
    out = Q["l12_pii_scrub"](spark, sf_dir)
    # each masked entity leaves exactly one marker token behind
    mismatch = out.filter(
        F.regexp_count("scrubbed", F.lit("<TERM>")) != F.col("n_blocked")
    ).count()
    assert mismatch == 0
    # scrubbed text never still contains a blocklisted standalone term
    assert out.filter(F.col("scrubbed").rlike(r"\b(spark|merge)\b")).count() == 0


def test_chunks_reassemble_to_document(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = Q["l13_chunk_tokens"](spark, sf_dir)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text")))
                .getField("chunk_text")
            ).alias("rebuilt"),
            F.sum("n_chunk_tokens").alias("n_tok"),
            F.max("n_chunk_tokens").alias("max_chunk"),
        )
    )
    joined = docs.join(rebuilt, "doc_id")
    assert joined.filter(F.col("rebuilt") != F.col("text")).count() == 0
    assert chunks.filter(F.col("n_chunk_tokens") > CHUNK_TOKENS).count() == 0


def test_hash_sample_deterministic_and_stratified(spark, sf_dir):
    a = Q["l14_hash_sample"](spark, sf_dir).toPandas().sort_values("doc_id")
    b = Q["l14_hash_sample"](spark, sf_dir).toPandas().sort_values("doc_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    assert set(a["bucket"]) <= set(SAMPLE_HEX_DIGITS)
    # rate is near 3/16 overall (binomial tolerance on a small corpus)
    n_total = load_table(spark, sf_dir, "documents").count()
    rate = len(a) / n_total
    assert abs(rate - 3 / 16) < 0.08


def test_packing_is_contiguous_within_shard(spark, sf_dir):
    from sparkstreaming_mq_spark.operators.curation import PACK_CAPACITY, PACK_SHARDS

    out = Q["l15_pack_sequences"](spark, sf_dir).toPandas()
    assert out["offset_in_seq"].between(0, PACK_CAPACITY - 1).all()
    assert (out["doc_id"] % PACK_SHARDS == out["shard"]).all()
    for _, g in out.sort_values("doc_id").groupby("shard"):
        start = g["seq_id"] * PACK_CAPACITY + g["offset_in_seq"]
        # each doc starts exactly where the previous one ended
        assert (start == g["n_tokens"].cumsum().shift(fill_value=0)).all()
        spans = (start + g["n_tokens"] - 1) // PACK_CAPACITY - g["seq_id"] + 1
        assert (spans == g["n_seqs_spanned"]).all()


def test_vocab_stats_invariants(spark, sf_dir):
    out = Q["l16_vocab_stats"](spark, sf_dir).toPandas()
    assert (out["cf"] >= out["df"]).all()
    assert (out["df"] >= 1).all()
    assert out["token"].is_unique


def test_mixture_respects_weights(spark, sf_dir):
    from sparkstreaming_mq_spark.operators.curation import MIXTURE_WEIGHTS

    out = Q["l17_domain_mixture"](spark, sf_dir).toPandas()
    base = load_table(spark, sf_dir, "documents").groupBy("source").count().toPandas()
    base = dict(zip(base["source"], base["count"]))
    got = out.groupby("source").size()
    assert "src5" not in got.index, "weight-0 source must vanish"
    for s, w in MIXTURE_WEIGHTS.items():
        if w == 0.0:
            continue
        # emitted copies land within [floor(w), ceil(w)] x source size
        assert int(w) * base[s] <= got[s] <= (int(w) + (w != int(w))) * base[s]
    # unlisted sources pass through exactly once
    unlisted = [s for s in base if s not in MIXTURE_WEIGHTS]
    assert all(got[s] == base[s] for s in unlisted)
    # epochs are dense 0..n-1 per doc
    per_doc = out.groupby("doc_id")["epoch"].agg(["min", "max", "count"])
    assert (per_doc["min"] == 0).all()
    assert (per_doc["max"] + 1 == per_doc["count"]).all()


def test_bpe_pairs_are_two_chars(spark, sf_dir):
    out = Q["l18_bpe_pairs"](spark, sf_dir).toPandas()
    assert (out["pair"].str.len() == 2).all()
    assert out["n"].is_monotonic_decreasing or len(out) <= 1
    assert out["pair"].is_unique


def test_tfidf_ranks_rare_terms_over_common(spark, sf_dir):
    from sparkstreaming_mq_spark.operators.curation import TFIDF_TOP_TERMS

    out = Q["l19_tfidf_terms"](spark, sf_dir).toPandas()
    assert out.groupby("doc_id")["rnk"].max().le(TFIDF_TOP_TERMS).all()
    assert (out["tf"] >= 1).all() and (out["df"] >= 1).all()
    # score is monotone in rank within a doc
    for _, g in out.groupby("doc_id"):
        g = g.sort_values("rnk")
        assert (g["score"].diff().dropna() <= 1e-9).all()


def test_span_dedup_counters_are_consistent(spark, sf_dir):
    from sparkstreaming_mq_spark.operators.curation import SPAN_N

    out = Q["l23_span_dedup"](spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).toPandas()
    assert out["doc_id"].is_unique and len(out) == len(docs)
    merged = out.merge(docs, on="doc_id")
    # exact span accounting: max(n_tok - SPAN_N + 1, 0) windows per doc
    expect = (merged["n_tok"] - SPAN_N + 1).clip(lower=0)
    assert (merged["n_spans"] == expect).all()
    # a cross-doc duplicate is necessarily a duplicate
    assert (out["n_cross_doc_spans"] <= out["n_dup_spans"]).all()
    assert (out["n_dup_spans"] <= out["n_spans"]).all()


def test_dup_density_invariants_and_regimes(spark, sf_dir):
    """Value parity vs DuckDB is the oracle sweep's job; this pins the
    semantics the oracle can't see moving: bounds hold, and the fixture
    exercises all three regimes (full mirrors at 10000 bp, unique docs
    at 0, partial overlaps strictly between) — so a fixture
    regeneration that quietly drops its duplicate structure fails here
    instead of making the operator vacuously green."""
    out = Q["l38_dup_density"](spark, sf_dir).toPandas()
    d = load_table(spark, sf_dir, "documents")
    assert len(out) == d.count()  # every doc has >=8 tokens in fixtures
    assert out["doc_id"].is_unique
    assert (out["n_dup"] <= out["n_shingles"]).all()
    assert out["dup_bp"].between(0, 10000).all()
    assert (out["dup_bp"] == 10000).any(), "no full-mirror docs"
    assert (out["dup_bp"] == 0).any(), "no unique docs"
    assert out["dup_bp"].between(1, 9999).any(), "no partial overlaps"


def test_shingle_postings_edges(spark):
    """_shingle_postings edge semantics, pinned against the NGram
    swap-in: short docs emit nothing, within-doc repeats dedup, and
    shingles are space-joined in token order."""
    from sparkstreaming_mq_spark.operators.curation import _shingle_postings

    d = spark.createDataFrame(
        [
            (1, "a b c"),            # 3 tokens < n=4: no shingles
            (2, "a b c d"),          # exactly one
            (3, "x y x y x y x y"),  # sliding repeats collapse
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.ng) for r in _shingle_postings(d, 4, "doc_id").collect()}
    assert rows == {
        (2, "a b c d"),
        (3, "x y x y"),
        (3, "y x y x"),
    }


def test_dup_spans_consistent_with_dup_density(spark, sf_dir):
    """l39 is l38's excision plan, so the two must agree: exactly the
    docs with n_dup > 0 carry spans; spans are disjoint, ordered,
    >= one shingle wide; and a full-mirror doc (dup_bp == 10000) is
    covered end-to-end by a single span [0, n_tokens-1]."""
    from sparkstreaming_mq_spark.operators.curation import L38_NGRAM
    from sparkstreaming_mq_spark.tables import load_table

    dens = Q["l38_dup_density"](spark, sf_dir).toPandas().set_index("doc_id")
    spans = Q["l39_dup_spans"](spark, sf_dir).toPandas()
    assert set(spans["doc_id"]) == set(dens[dens["n_dup"] > 0].index)
    assert (spans["n_tokens"] >= L38_NGRAM).all()
    assert (spans["tok_end"] - spans["tok_start"] + 1 == spans["n_tokens"]).all()
    for doc, g in spans.sort_values(["doc_id", "span_id"]).groupby("doc_id"):
        ends = g["tok_end"].tolist()
        starts = g["tok_start"].tolist()
        # strictly separated (adjacent/overlapping spans must merge)
        assert all(s > e + 1 for s, e in zip(starts[1:], ends[:-1])), doc

    n_tok = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    mirrors = dens[dens["dup_bp"] == 10000].index
    assert len(mirrors) > 0
    for doc in mirrors:
        g = spans[spans["doc_id"] == doc]
        assert len(g) == 1 and g.iloc[0]["tok_start"] == 0
        assert g.iloc[0]["tok_end"] == n_tok[doc] - 1


def test_l3_collects_its_query_rows_in_one_job(spark, sf_dir, count_jobs):
    """l3 sorts its bounded query rows on the driver: building the query
    starts one Spark job, where an ``orderBy`` collect starts three (a
    range-sort sample, the sort exchange and the collect)."""
    load_table(spark, sf_dir, "embeddings")  # infers and caches the schema
    jobs, _ = count_jobs(lambda: Q["l3_cosine_topk"](spark, sf_dir))
    assert jobs == 1
