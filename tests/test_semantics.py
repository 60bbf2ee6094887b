"""Semantic checks for rows-only operators (SURVEY.md §5.2-5.3):
sketch accuracy bounds, LSH recall vs exact oracles, streaming
late-data and stateful equivalence properties."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.tables import load_table

registry.load_all()
Q = registry.QUERIES


def test_approx_percentile_bound(spark, sf_dir):
    approx = {r.l_returnflag: (r.p50, r.p90) for r in Q["a5b_approx_percentiles"](spark, sf_dir).collect()}
    exact = {r.l_returnflag: (r.p50, r.p90) for r in Q["a5_percentiles"](spark, sf_dir).collect()}
    for k, (p50, p90) in exact.items():
        assert abs(approx[k][0] - p50) / p50 < 0.02
        assert abs(approx[k][1] - p90) / p90 < 0.02


def test_sample_fraction_and_reproducibility(spark, sf_dir):
    n_total = load_table(spark, sf_dir, "lineitem").count()
    a = Q["o9_sample"](spark, sf_dir).toPandas()
    b = Q["o9_sample"](spark, sf_dir).toPandas()
    assert abs(len(a) / n_total - 0.1) < 0.03
    assert a.equals(b), "same seed must reproduce the same sample"


def test_minhash_recall_vs_exact(spark, sf_dir, monkeypatch):
    """l2 is cost-based: below the broadcast boundary it runs the exact
    kernel (recall 1.0 trivially). This test FORCES the banded-LSH
    path (the 100 TB regime) and checks its recall against the exact
    pairs computed first with the boundary intact."""
    from sparkstreaming_mq_spark.operators import llm

    exact = {
        (r.doc_a, r.doc_b)
        for r in Q["l2b_ngram_jaccard"](spark, sf_dir).collect()
        if r.jac >= 0.8
    }
    monkeypatch.setattr(llm, "L2B_MAX_BROADCAST_DOCS", 0)
    lsh = {(r.doc_a, r.doc_b) for r in Q["l2_minhash_lsh"](spark, sf_dir).collect()}
    assert not (lsh - exact), "MinHash emitted a pair below the exact threshold"
    recall = len(exact & lsh) / max(len(exact), 1)
    assert recall >= 0.99, f"MinHash recall {recall}"


def test_l2b_guard_switches_to_banded_path(spark, sf_dir, monkeypatch):
    """Past L2B_MAX_BROADCAST_DOCS the exact kernel must NOT broadcast
    the full corpus; it switches to LSH-banded blocks + bitmap verify.
    Forcing the threshold to 0 exercises that path and checks it still
    recovers ~all high-similarity pairs (LSH misses ~0.8% at j=0.8 by
    design; at the fixture's 0.5 cutoff recall stays lower-bounded)."""
    from sparkstreaming_mq_spark.operators import llm

    exact = {
        (r.doc_a, r.doc_b) for r in Q["l2b_ngram_jaccard"](spark, sf_dir).collect()
    }
    monkeypatch.setattr(llm, "L2B_MAX_BROADCAST_DOCS", 0)
    banded = {
        (r.doc_a, r.doc_b) for r in Q["l2b_ngram_jaccard"](spark, sf_dir).collect()
    }
    assert banded <= exact, "banded path emitted a pair the exact kernel rejects"
    strong = {
        (r.doc_a, r.doc_b)
        for r in Q["l2_minhash_lsh"](spark, sf_dir).collect()
    }
    # every LSH-confirmed >=0.8 pair must survive the banded exact verify
    assert strong <= banded


def test_neardup_strategy_is_compute_aware(spark, sf_dir, monkeypatch):
    """The l2/l2b switch must compare estimated pair work, not just the
    broadcast-memory cliff: a low-density corpus well above the old
    small-only regime goes banded (n²/2 would be ~10¹⁰ pair evals for
    near-zero dups), while the dense fixture — where banding emits more
    rows than brute force scores — stays on the exact kernel even when
    the small-n shortcut is disabled (i.e. the sampled estimate itself
    makes the right call, not the shortcut)."""
    from pyspark.sql import functions as F

    from sparkstreaming_mq_spark.operators import llm
    from sparkstreaming_mq_spark.tables import load_table

    n_sparse = 150_000
    sparse = spark.range(n_sparse).select(
        F.col("id").alias("doc_id"),
        F.format_string("w%da w%db w%dc w%dd", "id", "id", "id", "id").alias("text"),
    )
    assert llm._neardup_strategy(sparse, n_sparse) == "banded"

    dense = load_table(spark, sf_dir, "documents")
    n_dense = dense.count()
    assert llm._neardup_strategy(dense, n_dense) == "exact"
    # disable the small-n shortcut: the sampled estimate alone must
    # still keep the dense corpus on the exact kernel
    monkeypatch.setattr(llm, "L2_EXACT_SMALL_DOCS", 0)
    assert llm._neardup_strategy(dense, n_dense) == "exact"


def test_exact_required_skips_banded_path_below_cliff(spark, monkeypatch):
    """Full-oracle callers (l2/l2b/l9, and l8/l37 through their pairs)
    pass exact_required=True: below the broadcast cliff the exact
    kernel must run even when the cost model would pick the banded
    (~0.8% false-negative) path — the r5-advice hazard. Routing is
    pinned by making the banded entry point explode."""
    from pyspark.sql import functions as F

    from sparkstreaming_mq_spark.operators import llm

    n = 150_000  # sparse corpus: the cost model picks 'banded' here
    sparse = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.format_string("w%da w%db w%dc w%dd", "id", "id", "id", "id").alias("text"),
    )
    assert llm._neardup_strategy(sparse, n) == "banded"

    def boom(*a, **k):
        raise AssertionError("banded path taken despite exact_required")

    monkeypatch.setattr(llm, "_lsh_candidate_pairs", boom)
    # plan construction routes through the exact kernel — no banding
    out = llm._neardup_pairs(sparse, 0.8, n_docs=n, exact_required=True)
    assert set(out.columns) == {"doc_a", "doc_b", "jac"}
    # past the memory cliff exact is impossible: banded is reached
    monkeypatch.setattr(llm, "L2B_MAX_BROADCAST_DOCS", 0)
    try:
        llm._neardup_pairs(sparse, 0.8, n_docs=n, exact_required=True)
    except AssertionError as e:
        assert "banded path taken" in str(e)
    else:  # pragma: no cover
        raise AssertionError("cliff-crossing corpus did not route to banded")


def test_embed_neardup_bucketed_path_subset_of_exact(spark, sf_dir, monkeypatch):
    """l7 is cost-based: force the LSH-bucketed (large-corpus) path and
    check it emits only pairs the exact path confirms."""
    from sparkstreaming_mq_spark.operators import llm

    exact = {(r.vec_a, r.vec_b) for r in Q["l7_embed_neardup"](spark, sf_dir).collect()}
    monkeypatch.setattr(llm, "L7_MAX_BROADCAST_VECS", 0)
    bucketed = {(r.vec_a, r.vec_b) for r in Q["l7_embed_neardup"](spark, sf_dir).collect()}
    assert bucketed <= exact
    if exact:
        assert len(bucketed) / len(exact) >= 0.5, "bucketed recall collapsed"


def test_dedup_pipeline_partitions_corpus(spark, sf_dir):
    """l9 stages must partition the corpus, and no two kept docs may
    share a verified near-dup pair."""
    out = Q["l9_dedup_pipeline"](spark, sf_dir).toPandas()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(out) == n_docs and out["doc_id"].nunique() == n_docs
    stages = set(out["stage"])
    assert stages <= {"keep", "drop_quality", "drop_exact", "drop_neardup"}
    assert "keep" in stages
    kept = set(out.loc[out["stage"] == "keep", "doc_id"])
    # kept docs are their clusters' representatives (min id), pairwise
    # non-near-dup under the same ≥0.8 verify the pipeline used
    pairs = {
        (r.doc_a, r.doc_b) for r in Q["l2_minhash_lsh"](spark, sf_dir).collect()
    }
    conflicts = [(a, b) for (a, b) in pairs if a in kept and b in kept]
    assert not conflicts, f"kept docs still near-dup: {conflicts[:5]}"
    # every cluster has exactly one keeper
    grp = out[out["stage"].isin(["keep", "drop_neardup"])].groupby("cluster_id")["stage"]
    assert (grp.apply(lambda s: (s == "keep").sum()) == 1).all()


def test_simhash_catches_token_identical_docs(spark, sf_dir):
    # SimHash signatures are built from the distinct token set, so any
    # pair with exact Jaccard 1.0 must collide at Hamming distance 0
    # (the fixture has no byte-identical docs, but plenty of
    # token-set-identical ones).
    identical = [
        (r.doc_a, r.doc_b)
        for r in Q["l2b_ngram_jaccard"](spark, sf_dir).collect()
        if r.jac == 1.0
    ]
    assert identical, "fixture should contain token-set-identical docs"
    sim_pairs = {
        (r.doc_a, r.doc_b): r.hamming for r in Q["l2c_simhash"](spark, sf_dir).collect()
    }
    for pair in identical[:200]:
        assert sim_pairs.get(pair) == 0, f"token-identical docs {pair} not at hamming 0"


def test_ann_recall_on_meaningful_neighbors(spark, sf_dir):
    exact = [(r.query_id, r.neighbor_id, r.sim) for r in Q["l3_cosine_topk"](spark, sf_dir).collect()]
    ann = {(r.query_id, r.neighbor_id) for r in Q["l3b_ann_lsh"](spark, sf_dir).collect()}
    # Bounds are deliberately loose: the fixture vectors are
    # near-orthogonal (max pair cosine ~0.5), the adversarial regime
    # for hyperplane LSH; with 5 queries the per-dataset variance of
    # recall on the handful of sim>=0.35 neighbors is large.
    hi = {(q, n) for q, n, s in exact if s >= 0.35}
    if hi:
        assert len(hi & ann) / len(hi) >= 0.5
    allp = {(q, n) for q, n, _ in exact}
    assert len(allp & ann) / len(allp) >= 0.35


def test_ivf_recall_and_determinism(spark, sf_dir):
    exact = {(r.query_id, r.neighbor_id) for r in Q["l3_cosine_topk"](spark, sf_dir).collect()}
    a = {(r.query_id, r.neighbor_id) for r in Q["l3c_ann_ivf"](spark, sf_dir).collect()}
    b = {(r.query_id, r.neighbor_id) for r in Q["l3c_ann_ivf"](spark, sf_dir).collect()}
    assert a == b, "IVF must be deterministic (no RNG anywhere)"
    # floor for nprobe=6 of 16 lists: measured 0.62 (sf0.001) / 0.66
    # (sf0.01) on r4 data after fixing the l3d module-global collision
    # that had silently rebound IVF_NPROBE to 2 (the r4 0.28 floor was
    # measuring the clobbered config, not float flake). Integer-exact
    # Lloyd refinement keeps the value bit-stable per corpus; it still
    # moves with corpus regeneration, hence the margin below measured.
    assert len(exact & a) / len(exact) >= 0.5


def test_langid_deterministic(spark, sf_dir):
    def langs():
        return (
            Q["l4_text_metrics"](spark, sf_dir)
            .select("doc_id", "pred_lang")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )

    a, b = langs(), langs()
    assert a.equals(b)
    assert set(a["pred_lang"]) <= {"und", *["en", "es", "de", "fr"]}


def test_late_data_is_subset_of_batch(spark, sf_dir):
    batch = {
        r["window"]["start"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    streamed = Q["t6_stream_late_data"](spark, sf_dir).collect()
    assert streamed, "watermarked append stream emitted nothing"
    for r in streamed:
        assert r.win_start in batch and r.n <= batch[r.win_start]
    assert sum(r.n for r in streamed) < sum(batch.values()), "no late rows were dropped"


def test_stateful_sessions_match_batch(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev").isNull()
                | (F.col("ts").cast("long") - F.col("prev").cast("long") > 1800)
            ).cast("int"),
        )
        .withColumn("sid", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    batch = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in sess.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    streamed = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in Q["t7_stateful_sessionize"](spark, sf_dir).collect()
    }
    assert streamed, "stateful sessionizer emitted nothing"
    assert not (streamed - batch), "streamed session not present in batch sessionization"


def test_session_windows_subset_of_batch(spark, sf_dir):
    n_total = load_table(spark, sf_dir, "events").count()
    # complete mode: every event lands in exactly one merged session
    complete = Q["t4_stream_session"](spark, sf_dir).collect()
    assert complete
    assert sum(r.n_events for r in complete) == n_total
    # watermarked append mode: only watermark-flushed sessions emit
    flushed = Q["t4d_stream_session_append"](spark, sf_dir).collect()
    assert flushed
    assert sum(r.n_events for r in flushed) <= n_total
    complete_keys = {(r.user_id, r.sess_start) for r in complete}
    assert {(r.user_id, r.sess_start) for r in flushed} <= complete_keys


def test_dedup_clusters_are_consistent(spark, sf_dir):
    labels = {r.doc_id: r.cluster_id for r in Q["l8_dedup_clusters"](spark, sf_dir).collect()}
    pairs = [(r.doc_a, r.doc_b) for r in Q["l2_minhash_lsh"](spark, sf_dir).collect()]
    # every near-dup pair's endpoints share a cluster (fixpoint reached)
    for a, b in pairs:
        assert labels[a] == labels[b], f"pair ({a},{b}) split across clusters"
    # cluster_id is the component minimum and keeps exactly one rep
    reps = {cid for cid in labels.values()}
    for cid in reps:
        assert labels[cid] == cid, "cluster representative not its own cluster id"


def test_update_mode_final_state_equals_batch(spark, sf_dir):
    updates = Q["t8_stream_update_mode"](spark, sf_dir).toPandas()
    # last emitted update per key == the batch aggregate
    final = updates.groupby("event_type")["n"].max().to_dict()
    batch = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == batch
    # update mode must emit per-batch history, not just the final rows
    assert len(updates) > len(batch)


def test_media_features_deterministic(spark, sf_dir):
    a = Q["l5b_media_features"](spark, sf_dir).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = Q["l5b_media_features"](spark, sf_dir).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    assert (a["feat_dim"] == 4).all()
    assert a[["f_len", "f_first", "f_mid", "f_last"]].notna().all().all()
    assert a["f_first"].between(0.0, 1.0).all() and a["f_last"].between(0.0, 1.0).all()


def test_merge_upsert_row_accounting(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    n_base = o.count()
    n_del = o.filter((F.col("o_orderkey") % 11 == 3) & (F.col("o_orderkey") % 7 != 0)).count()
    n_ins = o.filter(F.col("o_orderkey") % 13 == 1).count()
    merged = Q["m1_merge_upsert"](spark, sf_dir)
    assert merged.count() == n_base - n_del + n_ins
    # every surviving update row carries the new status and +1000 price
    upd = merged.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") < 100_000_000))
    assert upd.filter(F.col("o_orderstatus") != "X").count() == 0
    # keys stay unique after the merge
    assert merged.select("o_orderkey").distinct().count() == merged.count()


def test_scd2_intervals_chain(spark, sf_dir):
    hist = Q["m2_scd2_history"](spark, sf_dir)
    # exactly one open (current) interval per user
    open_per_user = hist.groupBy("user_id").agg(F.sum("is_current").alias("n_open"))
    assert open_per_user.filter(F.col("n_open") != 1).count() == 0
    # each closed interval's valid_to equals the next interval's valid_from
    w = Window.partitionBy("user_id").orderBy("valid_from", "valid_to")
    chained = hist.withColumn("nxt_from", F.lead("valid_from").over(w)).filter(
        F.col("valid_to").isNotNull()
    )
    assert chained.filter(F.col("valid_to") != F.col("nxt_from")).count() == 0


def test_batch_sessions_cover_all_events(spark, sf_dir):
    sess = Q["t4c_session_batch"](spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    agg = sess.agg(
        F.sum("n_events").alias("n"), F.min(F.col("n_events")).alias("mn")
    ).collect()[0]
    assert agg.n == n_events and agg.mn >= 1
    # session windows per user never overlap: end_i <= start_{i+1}
    w = Window.partitionBy("user_id").orderBy("sess_start")
    overl = sess.withColumn("nxt", F.lead("sess_start").over(w)).filter(
        F.col("nxt").isNotNull() & (F.col("sess_end") > F.col("nxt"))
    )
    assert overl.count() == 0


def test_quality_classifier_margin_decision(spark, sf_dir):
    r = Q["l20_quality_classifier"](spark, sf_dir).toPandas()
    # decision is exactly the sign of the margin (exact-integer boundary)
    assert ((r["margin"] > 0).astype(int) == r["keep"]).all()
    # probability is a valid sigmoid of the margin: bounds + monotone order
    assert r["prob_keep"].between(0.0, 1.0).all()
    s = r.sort_values("margin")
    assert s["prob_keep"].is_monotonic_increasing


def test_unigram_lm_familiarity_bounds(spark, sf_dir):
    r = Q["l21_unigram_lm"](spark, sf_dir).toPandas()
    # familiarity is a mean of per-token corpus frequencies: bounded by
    # the global min/max cf, and the unfamiliar flag matches the N/V rule
    from sparkstreaming_mq_spark.tables import load_table as _lt

    tok = _lt(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    cf = tok.groupBy("token").count().agg(
        F.min("count").alias("mn"),
        F.max("count").alias("mx"),
        F.sum("count").alias("n"),
        F.count("*").alias("v"),
    ).collect()[0]
    assert (r["familiarity"] >= cf.mn).all() and (r["familiarity"] <= cf.mx).all()
    expect = (r["sum_cf"] * cf.v < cf.n * r["n_tokens"]).astype(int)
    assert (r["is_unfamiliar"] == expect).all()


def test_schema_merge_accounting(spark, sf_dir):
    r = Q["s3b_schema_merge"](spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents")
    # every row lands in exactly one generation; per-lang counts add up
    assert int(r["n_rows"].sum()) == docs.count()
    assert (r["n_gen1"] + r["n_gen2"] == r["n_rows"]).all()
    assert int(r["n_gen1"].sum()) == docs.filter(F.col("doc_id") % 2 == 0).count()


def test_zorder_clustering_skips_files(spark, sf_dir):
    import glob as _glob
    import os as _os

    from sparkstreaming_mq_spark.operators.storage import (
        Z_OK_HI,
        Z_OK_LO,
        Z_PK_HI,
        Z_PK_LO,
        _zorder_lineitem,
    )

    path = _zorder_lineitem(spark, sf_dir)
    parts = sorted(_glob.glob(_os.path.join(path, "part-*.parquet")))
    assert len(parts) > 1
    hit = 0
    for p in parts:
        st = (
            spark.read.parquet(p)
            .agg(
                F.min("l_orderkey").alias("ok_mn"), F.max("l_orderkey").alias("ok_mx"),
                F.min("l_partkey").alias("pk_mn"), F.max("l_partkey").alias("pk_mx"),
            )
            .collect()[0]
        )
        if st.ok_mx >= Z_OK_LO and st.ok_mn <= Z_OK_HI and st.pk_mx >= Z_PK_LO and st.pk_mn <= Z_PK_HI:
            hit += 1
    # the z-layout must let footer min-max stats prune at least one file
    # for the 2-D box — a single-column sort cannot prune on the second
    # dimension at all
    assert hit < len(parts)


def test_incremental_agg_matches_merged_snapshot(spark, sf_dir):
    inc = Q["m3_incremental_agg"](spark, sf_dir)
    merged = Q["m1_merge_upsert"](spark, sf_dir)
    # the delta-maintained rollup must total exactly what the merged
    # snapshot holds
    a = inc.agg(F.sum("n_orders").alias("n"), F.sum("sum_price").alias("s")).collect()[0]
    b = merged.agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("s"),
    ).collect()[0]
    assert a.n == b.n
    assert abs(a.s - b.s) < 1e-6


def test_semantic_dedup_cluster_scoped(spark, sf_dir):
    r = Q["l22_semantic_dedup"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # total accounting: every vector assigned to exactly one cluster
    assert r.count() == emb.count()
    assert r.select("vec_id").distinct().count() == r.count()
    # at least one cluster-scoped drop exists at the fixture-calibrated
    # threshold (measured: 10 drops at sf0.001, 19 at sf0.01)
    dropped = r.filter(F.col("keep") == 0).count()
    assert dropped >= 1
    # dedup never empties a cluster: each cluster keeps >= 1 member
    kept_per_cluster = r.groupBy("cid").agg(F.sum("keep").alias("k"))
    assert kept_per_cluster.filter(F.col("k") < 1).count() == 0


def test_time_travel_snapshot_isolation(spark, sf_dir):
    import glob
    import json
    import os

    from sparkstreaming_mq_spark.operators.storage import _txlog_table, read_snapshot

    base = _txlog_table(spark, sf_dir)
    # v1 pinned BEFORE the v2 append: reading v1 after v2 committed
    # still sees only the original half
    v1 = read_snapshot(spark, base, 1)
    docs = load_table(spark, sf_dir, "documents")
    assert v1.count() == docs.filter(F.col("doc_id") % 2 == 0).count()
    # compaction changed the physical layout (fewer files) but not the data
    with open(os.path.join(base, "manifest", "v2.json")) as f:
        v2_files = json.load(f)["files"]
    with open(os.path.join(base, "manifest", "v3.json")) as f:
        v3_files = json.load(f)["files"]
    assert len(v3_files) < len(v2_files)
    v2 = read_snapshot(spark, base, 2).orderBy("doc_id").toPandas()
    v3 = read_snapshot(spark, base, 3).orderBy("doc_id").toPandas()
    assert v2.equals(v3)


def test_integrity_audit_clean_fixture_and_detects_violations(spark, sf_dir):
    row = Q["x1_integrity_audit"](spark, sf_dir).collect()[0]
    # the fixture is referentially sound: every counter must be zero
    assert all(v == 0 for v in row.asDict().values()), row.asDict()
    # the orphan check genuinely detects: removing half the orders
    # makes their lineitems orphans under the identical anti-join
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0)
    li = load_table(spark, sf_dir, "lineitem")
    orphans = li.join(
        o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti"
    ).count()
    assert orphans > 0


def test_stream_merge_equals_batch_merge(spark, sf_dir):
    streamed = Q["s10_stream_merge_upsert"](spark, sf_dir)
    batch = Q["m1_merge_upsert"](spark, sf_dir)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    a = streamed.select(cols).orderBy("o_orderkey").toPandas()
    b = batch.select(cols).orderBy("o_orderkey").toPandas()
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_stream_outer_join_contains_inner_and_safe_nulls(spark, sf_dir):
    out = Q["j10b_stream_outer_join"](spark, sf_dir).toPandas()
    inner = Q["j10_stream_stream_join"](spark, sf_dir).toPandas()
    matched = out[out["purchase_ts"].notna()]
    # the matched slice IS the inner join (same pairs, same values)
    key = ["user_id", "signup_ts", "purchase_ts"]
    assert sorted(map(tuple, matched[key].values.tolist())) == sorted(
        map(tuple, inner[key].values.tolist())
    )
    # null-padded rows only for signups with NO qualifying purchase
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    has_match = {
        (r.user_id, r.s_sec)
        for r in s.withColumn("s_sec", F.date_trunc("second", "s_ts"))
        .join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
            "left_semi",
        ).collect()
    }
    nulls = out[out["purchase_ts"].isna()]
    assert len(nulls) > 0, "watermark never evicted any unmatched signup"
    for r in nulls.itertuples():
        assert (r.user_id, r.signup_ts.to_pydatetime()) not in has_match


def test_quantized_search_recall_vs_exact(spark, sf_dir):
    """int8 quantization must preserve the exact-cosine top-k almost
    perfectly on 64-dim vectors (measured 1.0 on both fixture SFs; the
    0.8 floor absorbs future fixture regeneration)."""
    exact = Q["l3_cosine_topk"](spark, sf_dir).collect()
    quant = Q["l26_quantized_search"](spark, sf_dir).collect()
    by_q_exact, by_q_quant = {}, {}
    for r in exact:
        by_q_exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in quant:
        by_q_quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(by_q_exact) == set(by_q_quant)
    recalls = [
        len(by_q_exact[q] & by_q_quant[q]) / len(by_q_exact[q])
        for q in by_q_exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_epoch_shuffle_is_per_epoch_bijection(spark, sf_dir):
    """Each epoch must be a complete permutation of the corpus, and
    different epochs must order it differently (the whole point of
    re-shuffling between training epochs)."""
    rows = Q["l27_epoch_shuffle"](spark, sf_dir).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append((r.shard, r.pos, r.doc_id))
    docs = {r.doc_id for r in rows}
    orders = []
    for ep, items in sorted(by_epoch.items()):
        assert {d for _, _, d in items} == docs, f"epoch {ep} not a bijection"
        orders.append(tuple(d for _, _, d in sorted(items)))
    assert orders[0] != orders[1], "epochs must shuffle differently"


def test_mq_sink_two_phase_commit_hygiene(spark, sf_dir):
    """After a committed produce: no staged .tmp segments survive, the
    manifest lists exactly the segment files on the broker, and the
    message count equals the produced row count."""
    import glob
    import json
    import os
    import tempfile

    out = Q["s8_python_mq_sink"](spark, sf_dir)
    n_msgs = out.agg(F.sum("n")).collect()[0][0]
    ev = load_table(spark, sf_dir, "events")
    assert n_msgs == ev.count()
    broker = sorted(
        glob.glob(os.path.join(tempfile.gettempdir(), "sparkgraft_broker_*")),
        key=os.path.getmtime,
    )[-1]
    assert not glob.glob(os.path.join(broker, "data", "*.tmp"))
    with open(os.path.join(broker, "_MANIFEST.json")) as f:
        manifest = set(json.load(f)["segments"])
    on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(broker, "data", "*"))}
    assert manifest == on_disk


def test_kmeans_assignment_well_formed_and_deterministic(spark, sf_dir):
    """Every vector gets exactly one cluster, all K clusters are
    non-empty on the fixture, assignment is a pure function of the
    quantized vector, and a rerun reproduces the exact assignment
    (driver-held centroids are exact integers, so no float-
    accumulation drift between runs)."""
    from sparkstreaming_mq_spark.operators import llm

    out = Q["l28_kmeans_embed"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) == load_table(spark, sf_dir, "embeddings").count()
    assert len({r.cluster for r in rows}) == llm.KMEANS_K
    assert all(r.dist >= 0 for r in rows)
    # identical quantized vectors must land in the same cluster with
    # the same distance (assignment is a pure function of q)
    qdf = llm._kmeans_quantized(spark, sf_dir)
    by_q = {}
    asg = {r.vec_id: (r.cluster, r.dist) for r in rows}
    for r in qdf.collect():
        by_q.setdefault(tuple(r.q), set()).add(asg[r.vec_id])
    assert all(len(v) == 1 for v in by_q.values())
    rows2 = Q["l28_kmeans_embed"](spark, sf_dir).collect()
    assert {(r.vec_id, r.cluster, r.dist) for r in rows2} == {
        (r.vec_id, r.cluster, r.dist) for r in rows
    }


def test_token_budget_greedy_cut(spark, sf_dir):
    """Per source: admitted docs must be a prefix of the hash order,
    every admitted doc's predecessor-cumsum must be under budget, the
    first excluded doc would have started at/over budget (the greedy
    cut is tight), and overshoot is at most one document."""
    from sparkstreaming_mq_spark.operators.curation import TOKEN_BUDGET

    rows = Q["l29_token_budget"](spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    d = load_table(spark, sf_dir, "documents")
    totals = {
        r.source: r.n
        for r in d.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " ")).cast("long")).alias("n"))
        .collect()
    }
    n_docs = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, items in by_src.items():
        items.sort(key=lambda r: r.pick_order)
        # contiguous prefix of the pick order
        assert [r.pick_order for r in items] == list(range(1, len(items) + 1))
        for r in items:
            assert r.cum_tok - r.n_tok < TOKEN_BUDGET
        last = items[-1]
        if len(items) < n_docs[src]:
            # budget exhausted: the cut is tight (last admitted doc
            # crossed or reached the remaining budget)
            assert last.cum_tok >= TOKEN_BUDGET
        else:
            assert totals[src] == last.cum_tok


def test_stream_incremental_dedup_statuses_partition(spark, sf_dir):
    """Every streamed doc gets exactly one status; 'new' count equals
    the number of distinct non-corpus digests; a digest never mixes
    corpus and non-corpus statuses; within a non-corpus digest exactly
    one doc is 'new' and it is the replay-order-first one."""
    from sparkstreaming_mq_spark.streaming.queries import S14_CHUNKS, S14_CORPUS_MOD

    rows = Q["s14_stream_incremental_dedup"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert len(rows) == d.count()
    corpus_digests = {
        r.digest
        for r in d.filter(F.col("doc_id") % S14_CORPUS_MOD != 0)
        .select(F.sha2("text", 256).alias("digest"))
        .distinct()
        .collect()
    }
    by_digest = {}
    for r in rows:
        by_digest.setdefault(r.digest, []).append(r)
    n_new = 0
    for digest, items in by_digest.items():
        statuses = {r.status for r in items}
        if digest in corpus_digests:
            assert statuses == {"dup_of_corpus"}
        else:
            news = [r for r in items if r.status == "new"]
            assert len(news) == 1, f"{digest}: {statuses}"
            n_new += 1
            first = min(items, key=lambda r: (r.doc_id % S14_CHUNKS, r.doc_id))
            assert news[0].doc_id == first.doc_id
    assert n_new == len(set(by_digest) - corpus_digests)


def test_a4d_raw_estimates_bounded(spark, sf_dir):
    """a4d's raw HLL++/KLL estimates must track the exact per-flag
    answers (backing the docstring's claim): distinct orderkeys within
    5% rel (HLL++ rsd=0.01 gives far tighter in practice), percentiles
    within 2% rel at accuracy 10000."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: (r.n_orders, r.p50, r.p90)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }
    for r in Q["a4d_approx_raw"](spark, sf_dir).collect():
        n, p50, p90 = exact[r.l_returnflag]
        assert abs(r.approx_orders - n) <= max(2, 0.05 * n)
        assert abs(r.p50 - p50) / p50 < 0.02
        assert abs(r.p90 - p90) / p90 < 0.02


def test_ann_k_policy_matches_sql(spark, sf_dir):
    """ann_k (Spark side) and ann_k_sql (oracle side) must agree at
    every corpus size — a one-off K disagreement would silently break
    every k-means/PQ oracle past the fixture regime."""
    import duckdb

    from sparkstreaming_mq_spark.operators import llm

    for n in (1, 500, 2000, 4096, 4097, 10_000, 1_000_000, 10**9, 17**2 + 1):
        for small_k, cap in ((4, llm.ANN_MAX_K), (32, 256), (16, llm.ANN_LITERAL_MAX_K)):
            sql = llm.ann_k_sql(small_k, cap=cap, table=f"(SELECT 1 FROM range({n}))")
            got = duckdb.sql(f"SELECT {sql}").fetchone()[0]
            assert got == llm.ann_k(n, small_k, cap=cap), (n, small_k, cap)
            tsql = llm.ann_train_n_sql(small_k, cap=cap, table=f"(SELECT 1 FROM range({n}))")
            tgot = duckdb.sql(f"SELECT {tsql}").fetchone()[0]
            k = llm.ann_k(n, small_k, cap=cap)
            assert tgot == llm.ann_train_n(n, k), (n, small_k, cap)


def test_kmeans_broadcast_assignment_matches_literal(spark, sf_dir, monkeypatch):
    """The large-K broadcast-join argmin must be bit-identical to the
    literal-expression path (same exact integers, same (d, c)
    tie-break): force it on the fixture corpus and compare l28 and l3d
    row-for-row against the literal plans."""
    from sparkstreaming_mq_spark.operators import llm

    lit_l28 = {tuple(r) for r in Q["l28_kmeans_embed"](spark, sf_dir).collect()}
    lit_l3d = {tuple(r) for r in Q["l3d_ivf_exact"](spark, sf_dir).collect()}
    monkeypatch.setattr(llm, "ANN_LITERAL_MAX_K", 0)
    bc_l28 = {tuple(r) for r in Q["l28_kmeans_embed"](spark, sf_dir).collect()}
    bc_l3d = {tuple(r) for r in Q["l3d_ivf_exact"](spark, sf_dir).collect()}
    assert bc_l28 == lit_l28
    assert bc_l3d == lit_l3d


def test_exact_required_recounts_overestimated_bound(spark, monkeypatch):
    """An n_docs UPPER BOUND above the broadcast cliff (l9 passes the
    unfiltered table's footer count as a bound on its survivor set)
    must not route an exact_required call onto the ~0.8%-false-negative
    banded path when the frame actually being paired is small:
    _neardup_pairs recounts the real frame before conceding to banding
    (the r6 advice finding)."""
    from pyspark.sql import functions as F

    from sparkstreaming_mq_spark.operators import llm

    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.format_string("alpha beta gamma w%d", "id").alias("text"),
    )

    def boom(*a, **k):
        raise AssertionError("banded path taken despite exact_required")

    monkeypatch.setattr(llm, "_lsh_candidate_pairs", boom)
    # claim the corpus is past the cliff; the true count (64) is not
    out = llm._neardup_pairs(
        docs, 0.8, n_docs=llm.L2B_MAX_BROADCAST_DOCS + 1, exact_required=True
    )
    assert set(out.columns) == {"doc_a", "doc_b", "jac"}
