"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast, top-k fusion, shuffle-free
bucketed joins) asserted against the actual executed plans — so a
refactor that silently de-optimizes a query fails CI, not a 100 TB
run."""

from __future__ import annotations

import re

from sparkstreaming_mq_spark import registry

registry.load_all()
Q = registry.QUERIES


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushdown_and_pruning(spark, sf_dir):
    plan = formatted_plan(Q["q01_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    cols = m.group(1)
    # the scan must read ONLY the 7 referenced columns
    assert cols.count(":") == 7 and "l_orderkey" not in cols


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = formatted_plan(Q["p1_project_filter_case"](spark, sf_dir))
    assert "PushedFilters:" in plan and "o_totalprice" in plan.split("PushedFilters:")[1][:400]


def test_dim_join_broadcasts(spark, sf_dir):
    plan = formatted_plan(Q["j3_broadcast_dim"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_fuses(spark, sf_dir):
    # ORDER BY + LIMIT lowers to a per-partition heap, never a range-partitioned global sort
    plan = executed_plan(Q["o1_global_sort"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_projection_prunes_scan(spark, sf_dir):
    plan = formatted_plan(Q["f1_string_hash"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and m.group(1).count(":") == 3  # custkey, name, mktsegment only


def test_bucketed_join_has_no_join_side_exchange(spark, sf_dir):
    plan = executed_plan(Q["o10_bucketed_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    # the ONLY exchange allowed is the post-join aggregation shuffle
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "o_orderpriority" in exchanges[0]


def test_similarity_search_vectorized_kernel_no_join(spark, sf_dir):
    """l3's dense scoring must run in the Arrow mapInPandas kernel
    with the bounded query matrix as a driver literal — no join of any
    kind touches the corpus scan (the old broadcast-crossJoin + HOF
    form was the interpreted-lambda N×K trap: 22.7 s at the 30×
    smoke), and the only exchange feeds the final top-k window over
    the batch-pruned candidate rows."""
    plan = executed_plan(Q["l3_cosine_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_verify_joins_broadcast(spark, sf_dir, monkeypatch):
    # force the banded-LSH (large-corpus) path; below the boundary l2
    # cost-switches to the broadcast nested-loop kernel
    from sparkstreaming_mq_spark.operators import llm

    monkeypatch.setattr(llm, "L2B_MAX_BROADCAST_DOCS", 0)
    plan = executed_plan(Q["l2_minhash_lsh"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, "verify joins must broadcast"


def test_minhash_verify_falls_back_to_shuffle_past_broadcast_bound(
    spark, sf_dir, monkeypatch
):
    """Past VERIFY_MAX_BROADCAST_DOCS the corpus-sized verify
    representation must NOT broadcast (executor OOM at 100 TB) — the
    verify joins become shuffle hash joins, with identical results."""
    from sparkstreaming_mq_spark.operators import llm

    monkeypatch.setattr(llm, "L2B_MAX_BROADCAST_DOCS", 0)
    broadcast_pairs = {
        (r.doc_a, r.doc_b, r.jac) for r in Q["l2_minhash_lsh"](spark, sf_dir).collect()
    }
    monkeypatch.setattr(llm, "VERIFY_MAX_BROADCAST_DOCS", 0)
    df = Q["l2_minhash_lsh"](spark, sf_dir)
    shuffled_pairs = {(r.doc_a, r.doc_b, r.jac) for r in df.collect()}
    # final (post-AQE) plan: the two verify joins — the ones carrying
    # the corpus-sized ja/jb representation — must be ShuffledHashJoin.
    # (The band-collision self-join upstream may still broadcast at
    # fixture scale; that side is candidate-bounded, not corpus-sized.)
    plan = executed_plan(df)
    assert plan.count("ShuffledHashJoin") >= 2, plan[:3000]
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "ja#" not in line and "jb#" not in line, line
    assert shuffled_pairs == broadcast_pairs


def test_minhash_small_corpus_takes_exact_kernel(spark, sf_dir):
    """Below the boundary the exact path runs the vectorized numpy
    popcount kernel (r14, the l3 rule: dense N×K work never runs as
    interpreted Catalyst lambdas) — a MapInPandas scan of the bitmap
    representation with the corpus matrix as a task literal. No join
    of any kind touches the pair scoring (the old
    BroadcastNestedLoopJoin + zip_with/aggregate form measured ~20 s
    CPU on sf0.1's 12.5M pairs)."""
    plan = executed_plan(Q["l2_minhash_lsh"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- driver-slot (merged) queries: same scale guarantees as the originals ----


def test_merged_project_filter_pushes_down(spark, sf_dir):
    plan = formatted_plan(Q["p1_project_filter_case"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1][:400]
    assert "o_totalprice" in pushed and "In(o_orderstatus" in pushed


def test_j1_mixes_smj_fact_join_and_broadcast_dim(spark, sf_dir):
    # At fixture scale the optimizer auto-broadcasts everything; pin
    # the 100 TB shape by disabling auto-broadcast so ONLY the explicit
    # broadcast(customer) hint broadcasts and the fact-fact leg plans
    # its shuffle join.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(Q["j1_inner_equi"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in plan, "customer dim must broadcast (explicit hint)"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_global_sort_topk_fuses(spark, sf_dir):
    assert "TakeOrderedAndProject" in formatted_plan(Q["o1_global_sort"](spark, sf_dir))


def test_merged_windows_share_one_exchange_per_spec(spark, sf_dir):
    plan = executed_plan(Q["w3_frames_topk"](spark, sf_dir))
    # both window families partition on o_custkey: exactly one exchange
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1 and "o_custkey" in exchanges[0]


def test_l4_text_metrics_single_scan_no_python(spark, sf_dir):
    plan = executed_plan(Q["l4_text_metrics"](spark, sf_dir))
    assert "Scan parquet" in plan and plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_a7_multidim_uses_expand(spark, sf_dir):
    plan = executed_plan(Q["a7_multidim_agg"](spark, sf_dir))
    assert "Expand" in plan  # rollup/cube/sets all lower to Expand


# --- curation operators (L10-L14): scale-shape guarantees ---------------------


def test_decontaminate_broadcasts_benchmark_shingles(spark, sf_dir):
    plan = executed_plan(Q["l10_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "eval shingle set must broadcast"


def test_repetition_and_scrub_are_shuffle_free_single_scan(spark, sf_dir):
    for name in ("l11_repetition", "l12_pii_scrub"):
        plan = executed_plan(Q[name](spark, sf_dir))
        assert plan.count("Scan parquet") == 1, name
        assert "Exchange" not in plan, f"{name} must not shuffle"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_chunking_is_narrow_explode(spark, sf_dir):
    plan = executed_plan(Q["l13_chunk_tokens"](spark, sf_dir))
    assert "Generate" in plan  # the explode
    assert "Exchange" not in plan, "chunking must stay narrow (no shuffle)"


def test_hash_sample_is_pure_predicate(spark, sf_dir):
    plan = executed_plan(Q["l14_hash_sample"](spark, sf_dir))
    assert "Exchange" not in plan and "Sample" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_packing_shuffles_only_on_shard(spark, sf_dir):
    plan = executed_plan(Q["l15_pack_sequences"](spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1 and "shard" in exchanges[0]


def test_vocab_topk_fuses(spark, sf_dir):
    assert "TakeOrderedAndProject" in executed_plan(Q["l16_vocab_stats"](spark, sf_dir))


def test_mixture_is_narrow_no_shuffle(spark, sf_dir):
    plan = executed_plan(Q["l17_domain_mixture"](spark, sf_dir))
    assert "Exchange" not in plan, "mixture resampling must not shuffle"
    assert "Generate" in plan  # the epoch explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_topk_fuses(spark, sf_dir):
    plan = executed_plan(Q["l18_bpe_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 1


def test_tfidf_broadcasts_corpus_count(spark, sf_dir):
    plan = executed_plan(Q["l19_tfidf_terms"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, "n_docs must broadcast, not shuffle"


def test_partitioned_scan_actually_prunes(spark, sf_dir):
    plan = executed_plan(Q["o11_partitioned_prune"](spark, sf_dir))
    assert "PartitionFilters" in plan
    # the status predicate must be a partition filter, not a data filter
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "o_orderstatus" in pf.group(1)
    assert "PushedFilters" in plan and "o_totalprice" in plan


def test_quality_classifier_is_narrow_no_shuffle(spark, sf_dir):
    plan = executed_plan(Q["l20_quality_classifier"](spark, sf_dir))
    assert "Exchange" not in plan, "model scoring must be a narrow scan"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_lm_broadcasts_corpus_totals(spark, sf_dir):
    plan = executed_plan(Q["l21_unigram_lm"](spark, sf_dir))
    # corpus totals (N, V) arrive as a broadcast single row, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_broadcasts_centroids(spark, sf_dir):
    plan = executed_plan(Q["l22_semantic_dedup"](spark, sf_dir))
    # the 16-centroid assignment side must broadcast
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_scan_pushes_both_range_predicates(spark, sf_dir):
    plan = formatted_plan(Q["o12_zorder_scan"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1][:400]
    assert "l_orderkey" in pushed and "l_partkey" in pushed


def test_incremental_agg_never_rescans_wide(spark, sf_dir):
    plan = formatted_plan(Q["m3_incremental_agg"](spark, sf_dir))
    import re as _re
    # every scan reads only the 3 referenced columns
    for m in _re.finditer(r"ReadSchema: struct<([^>]*)", plan):
        assert m.group(1).count(":") <= 3


def test_merge_upsert_single_antijoin_shape(spark, sf_dir):
    plan = executed_plan(Q["m1_merge_upsert"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_star_join_broadcasts_every_dimension(spark, sf_dir):
    plan = executed_plan(Q["j12_star_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # the only hash-partition exchange is the final aggregation
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) <= 1


def test_funnel_stages_shuffle_only_on_user_id(spark, sf_dir):
    """e1: every exchange in the funnel is hash-partitioned on user_id
    (stage aggregates + co-partitioned stage joins); the final 1-row
    combines are broadcast nested-loop crosses, not shuffles."""
    plan = executed_plan(Q["e1_funnel"](spark, sf_dir))
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        assert "user_id" in m.group(1)


def test_retention_output_is_tiny_aggregate(spark, sf_dir):
    """e2: the scan reads only (user_id, ts) — retention never touches
    payload columns."""
    plan = formatted_plan(Q["e2_retention"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and m.group(1).count(":") == 2


def test_transitions_single_window_exchange(spark, sf_dir):
    """e3: exactly one hash exchange for the lead() window (plus the
    final tiny aggregate exchange) — the user-sequence sort must stay
    partition-local."""
    plan = executed_plan(Q["e3_transitions"](spark, sf_dir))
    user_exchanges = [
        m.group(0)
        for m in re.finditer(r"Exchange hashpartitioning\(user_id", plan)
    ]
    assert len(user_exchanges) == 1


def test_span_dedup_reuses_gram_exchange(spark, sf_dir):
    """l23: the occurrence count and the join-back shuffle on the same
    gram key; AQE/plan must not add a third wide exchange on any other
    key except the final doc_id aggregate."""
    plan = executed_plan(Q["l23_span_dedup"](spark, sf_dir))
    keys = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan)
    ]
    assert set(keys) <= {"gram", "doc_id"}, keys


def test_bloom_filter_lands_on_probe_side(spark, sf_dir):
    """j13: with the runtime-bloom confs applied, the optimizer plants
    a bloom-filter semi-join predicate on the lineitem (probe) side."""
    from sparkstreaming_mq_spark.operators.joins import BLOOM_CONFS, bloom_join_frame

    prev = {k: spark.conf.get(k, None) for k in BLOOM_CONFS}
    for k, v in BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = bloom_join_frame(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom_filter" in plan.lower(), plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_variant_parses_once_stays_codegen(spark, sf_dir):
    """f8: a single parse_json feeds all variant_get accesses; no
    Python eval appears anywhere in the plan."""
    plan = executed_plan(Q["f8_variant"](spark, sf_dir))
    assert "parse_json" not in plan.lower() or "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_python_datasource_partitions_follow_queue_partitions(spark, sf_dir):
    """s12: the custom connector exposes one planner partition per
    queue partition (4 replay chunks -> 4 scan partitions)."""
    from sparkstreaming_mq_spark.streaming.sources import (
        MQReplayDataSource,
        chunked_events_dir,
    )

    try:
        spark.dataSource.register(MQReplayDataSource)
    except Exception:
        pass
    base = chunked_events_dir(sf_dir, n_chunks=4, order="time")
    env = spark.read.format("mqreplay").option("path", base).load()
    assert env.rdd.getNumPartitions() == 4


def test_hard_negatives_broadcast_anchor_side(spark, sf_dir):
    """l24: the anchor set is the broadcast side; the corpus is never
    shuffled for the join."""
    plan = executed_plan(Q["l24_hard_negatives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_topk_fuses_and_broadcasts(spark, sf_dir):
    plan = formatted_plan(Q["l25_bm25_retrieval"](spark, sf_dir))
    # final top-k must fuse (orderBy+limit), never a global sort of
    # the scored corpus; df and N/T sides must broadcast
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # single-row global agg


def test_bm25_term_filter_before_tf_agg(spark, sf_dir):
    plan = formatted_plan(Q["l25_bm25_retrieval"](spark, sf_dir))
    # the IN-filter on query terms must run as a post-explode Filter
    # node (before the tf aggregate), not after the join
    from sparkstreaming_mq_spark.operators.curation import BM25_TERMS

    terms = re.escape(",".join(BM25_TERMS))
    assert re.search(rf"Condition : term#\d+ IN \({terms}\)", plan)


def test_quantized_search_broadcasts_probe_side(spark, sf_dir):
    plan = formatted_plan(Q["l26_quantized_search"](spark, sf_dir))
    # bounded probe set must broadcast; corpus side never shuffles
    # for the scoring join
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_overlap_avoids_nested_loop(spark, sf_dir):
    plan = executed_plan(Q["j15_interval_overlap"](spark, sf_dir))
    # the bucket decomposition must turn the pure overlap predicate
    # into an equi join — never the O(n*m) nested-loop plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_shard_export_bounds_file_size_and_partitions(spark, sf_dir):
    import glob
    import os

    from sparkstreaming_mq_spark.operators.storage import (
        SHARD_MAX_RECORDS,
        _shard_export,
    )

    base = _shard_export(spark, sf_dir)
    part_dirs = glob.glob(os.path.join(base, "lang=*"))
    assert len(part_dirs) >= 2, "export must hive-partition by lang"
    for f in glob.glob(os.path.join(base, "lang=*", "*.parquet")):
        n = spark.read.parquet(f).count()
        assert n <= SHARD_MAX_RECORDS, f"{f} has {n} rows"


def test_dynamic_partition_pruning_engages(spark, sf_dir):
    plan = executed_plan(Q["o15_dynamic_pruning"](spark, sf_dir))
    # the fact scan must carry a runtime pruning subquery in its
    # PartitionFilters — the DPP signature — not a full-table scan
    assert "dynamicpruning" in plan.lower(), plan[:800]


def test_sql_udf_stays_in_codegen(spark, sf_dir):
    plan = executed_plan(Q["f10_sql_udf"](spark, sf_dir))
    # the SQL-defined function must inline — its fixed-point arithmetic
    # appears directly inside the aggregate, with no Python eval node
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FLOOR" in plan and "sg_charge" not in plan


def test_kmeans_assignment_scan_has_no_join(spark, sf_dir):
    """The k-means final assignment must be ONE corpus scan evaluating
    distances against driver-held centroid literals — no join, no
    exchange, no Python (the MLlib shape). A corpus-side join here
    would shuffle 100 TB per iteration."""
    plan = formatted_plan(Q["l28_kmeans_embed"](spark, sf_dir))
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_token_budget_single_window_exchange(spark, sf_dir):
    """l29 is one window shuffle on source: exactly one Exchange, one
    Window covering both the cumsum and pick_order, no Python."""
    plan = executed_plan(Q["l29_token_budget"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1
    assert "Python" not in plan


def test_incremental_dedup_window_reuses_join_partitioning(spark, sf_dir):
    """l30's within-batch window runs on the same hash(h) partitioning
    as the corpus probe join: the incoming batch is exchanged once,
    and the second sort (for the window) does not re-shuffle."""
    plan = executed_plan(Q["l30_incremental_dedup"](spark, sf_dir))
    assert "Python" not in plan
    # one exchange for the incoming side, one for the corpus side —
    # the window must NOT add a third
    assert plan.count("Exchange hashpartitioning") <= 2


def test_o17_sample_is_scan_local(spark, sf_dir):
    """Deterministic sampling must be a stateless scan-side predicate:
    no Exchange anywhere in the plan (the property that makes it free
    at 100 TB)."""
    plan = executed_plan(Q["o17_stratified_sample"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_e6_attribution_single_exchange(spark, sf_dir):
    """Attribution is ONE window over user_id: one hash exchange, no
    join (a self-join formulation would explode purchase×touch)."""
    plan = executed_plan(Q["e6_attribution"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_j8b_forward_asof_single_exchange(spark, sf_dir):
    """Forward as-of keeps j8's shape: union + one window exchange on
    user_id, no range join / nested loop."""
    plan = executed_plan(Q["j8b_asof_forward_tolerance"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "NestedLoop" not in plan


def test_a15_exact_corr_two_phase(spark, sf_dir):
    """Exact-moment corr is one two-phase hash aggregate: partial
    sums map-side, one exchange on the group key, closed forms on the
    final rows — no Expand, no second shuffle."""
    plan = executed_plan(Q["a15_exact_corr"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Expand" not in plan
    assert plan.count("HashAggregate") == 2


def test_l34_corpus_side_broadcasts(spark, sf_dir):
    """The incremental near-dup kernel streams the incoming batch
    against a BROADCAST corpus representation — the probe side never
    shuffles for the match."""
    plan = executed_plan(Q["l34_incremental_neardup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dup_density_bounded_state_no_corpus_join(spark, sf_dir):
    """l38 must keep O(1) aggregation state per shingle key (the
    unbounded collect_list hot-key buffer is banned) and join only
    doc-cardinality aggregates — two corpus scans, at most three
    exchanges, never a postings self-join."""
    plan = executed_plan(Q["l38_dup_density"](spark, sf_dir))
    assert "collect_list" not in plan, "unbounded per-key list buffer"
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_e7_islands_one_corpus_shuffle(spark, sf_dir):
    """e7's dedup aggregate, island window, and span rollup all run on
    the single explicit hashpartitioning(user_id) — exactly one
    corpus-sized Exchange, no join."""
    plan = executed_plan(Q["e7_streak_islands"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_g3_frontier_broadcasts_edges_stay_put(spark, sf_dir, monkeypatch):
    """Each of g3's hop expansions joins the broadcast frontier into
    the materialized edge list — no sort-merge/shuffled-hash join may
    touch the edges (the g1 no-edge-shuffle property, BFS form). The
    default plan is checkpoint-truncated after intermediate hops, so
    the full three-join property is checked with truncation OFF (the
    r6 pagerank-test lesson), and the default live last hop is checked
    separately."""
    import sparkstreaming_mq_spark.operators.graph as graph_mod

    live = executed_plan(Q["g3_khop_reach"](spark, sf_dir))
    assert live.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in live and "ShuffledHashJoin" not in live
    monkeypatch.setattr(graph_mod, "G3_CKPT_INTERMEDIATE", False)
    full = executed_plan(Q["g3_khop_reach"](spark, sf_dir))
    assert full.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in full and "ShuffledHashJoin" not in full


def test_l41_tercile_window_is_per_partition(spark, sf_dir):
    """l41's ranking window must partition by (pid, lang) — the
    grouped prefix-offset machinery — never by lang alone, which would
    funnel a dominant language through one task."""
    plan = executed_plan(Q["l41_perplexity_buckets"](spark, sf_dir))
    assert re.search(r"windowspecdefinition\(pid#\d+, lang#", plan), plan[
        :400
    ]


def test_x4_fingerprint_single_scan_one_exchange(spark, sf_dir):
    """x4 is one scan + one 64-group aggregate: map-side partial
    XOR/SUM, a single exchange on the bucket key, no join."""
    plan = executed_plan(Q["x4_table_fingerprint"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_l42_novelty_bounded_state_no_corpus_join(spark, sf_dir):
    """l42 keeps l38's reworked shape: O(1) state per shingle key
    (min(doc_id) only — no list buffers), doc-cardinality join only."""
    plan = executed_plan(Q["l42_novelty_attribution"](spark, sf_dir))
    assert "collect_list" not in plan, "unbounded per-key list buffer"
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange hashpartitioning") <= 3


def test_f16_pipe_compiles_to_pushed_codegen_aggregate(spark, sf_dir):
    """Pipe syntax is surface syntax only: the plan must show the
    o_orderstatus filter pushed to the parquet scan and the standard
    two-phase hash aggregate — identical shape to classic SQL."""
    plan = formatted_plan(Q["f16_sql_pipe_syntax"](spark, sf_dir))
    assert "PushedFilters:" in plan and "o_orderstatus" in plan.split("PushedFilters:")[1][:300]
    assert plan.count("HashAggregate") >= 2


def test_q04_semi_join_with_pushed_dates(spark, sf_dir):
    """Q4's EXISTS decorrelates to a LEFT SEMI join; both date filters
    must reach the parquet scans."""
    plan = formatted_plan(Q["q04_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "PushedFilters:" in plan and "o_orderdate" in plan
    assert "l_shipdate" in plan


def test_q06_no_join_single_pushed_scan(spark, sf_dir):
    """Q6 is one pushed-filter scan + a global two-phase aggregate —
    no join, no group-key exchange (SinglePartition only)."""
    plan = executed_plan(Q["q06_forecast_revenue"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    f = formatted_plan(Q["q06_forecast_revenue"](spark, sf_dir))
    assert "l_shipdate" in f.split("PushedFilters:")[1][:400]


def test_q10_topk_fuses_with_broadcast_dims(spark, sf_dir):
    """Q10: top-20 lowers to TakeOrderedAndProject; customer and
    nation broadcast; exactly one fact-fact shuffle pair."""
    plan = executed_plan(Q["q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q19_disjunction_stays_equi_hash_join(spark, sf_dir):
    """Q19's OR-of-conjunctions must not degrade the partkey equi join
    into a nested loop."""
    plan = executed_plan(Q["q19_brand_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_q07_dims_all_broadcast(spark, sf_dir):
    """Q7's four dimension joins (customer, supplier, nation x2) must
    all broadcast — no dim may shuffle."""
    plan = executed_plan(Q["q07_nation_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "ShuffledHashJoin" not in plan


def test_q08_deep_star_all_dims_broadcast(spark, sf_dir):
    """Q8's seven-table star: every dimension join broadcasts (>=6
    BroadcastHashJoins), no dim shuffles."""
    plan = executed_plan(Q["q08_market_share"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 6
    assert "ShuffledHashJoin" not in plan


def test_ds1_lag_window_no_self_join(spark, sf_dir):
    """ds1 replaces the canonical TPC-DS Q4/Q11 consecutive-year
    self-join with a lag window: the plan must be join-free, with one
    Window and at most three exchanges (cust-year agg, cust window,
    dim-sized year rollup)."""
    plan = executed_plan(Q["ds1_yoy_growth"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") <= 3


def test_ds2_full_outer_merge_and_pushdown(spark, sf_dir):
    """ds2's series merge is a genuine FULL-OUTER sort-merge join over
    two independently-aggregated channels (the Q51 shape), each
    channel's linestatus filter pushed to its lineitem scan, part
    broadcast on both branches, and ONE window computing both running
    totals."""
    plan = executed_plan(Q["ds2_cumulative_compare"](spark, sf_dir))
    assert "FullOuter" in plan and "SortMergeJoin" in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("Window") == 1
    fp = formatted_plan(Q["ds2_cumulative_compare"](spark, sf_dir))
    assert "EqualTo(l_linestatus,F)" in fp and "EqualTo(l_linestatus,O)" in fp


def test_ts1_gapfill_single_pass_no_join(spark, sf_dir):
    """ts1's gap-fill is the single-pass generator form: the observed
    row emits its own gap hours, so the plan has NO grid-join (and no
    twice-read diamond) — one rollup exchange, one user-keyed window,
    one Generate (explode)."""
    plan = executed_plan(Q["ts1_gapfill_interp"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window") == 1
    assert "Generate" in plan


def test_ts2_ohlc_one_exchange_two_sorts(spark, sf_dir):
    """ts2's open/close rankings and the closing bar aggregate all run
    on ONE (event_type, day) exchange — the two row_number orderings
    are in-partition sorts, and the groupBy reuses the window's
    partitioning (no join, no second shuffle)."""
    plan = executed_plan(Q["ts2_ohlc_bars"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2


def test_ts3_profile_one_exchange_no_join(spark, sf_dir):
    """ts3 attaches the seasonal baseline by a window (not an
    aggregate + join-back) and the closing rollup reuses the window's
    (type, hour-of-day) partitioning — ONE exchange, no join."""
    plan = executed_plan(Q["ts3_seasonal_profile"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_f15_params_bind_before_optimization(spark, sf_dir):
    """Parameter binding happens before Catalyst optimizes: the
    :min_size value must reach the parquet scan as a pushed filter and
    the ORDER BY + LIMIT :k must fuse to TakeOrderedAndProject."""
    from sparkstreaming_mq_spark.operators.scalar_functions import F15_MIN_SIZE

    fp = formatted_plan(Q["f15_parameterized_sql"](spark, sf_dir))
    assert f"GreaterThanOrEqual(p_size,{F15_MIN_SIZE})" in fp
    assert "TakeOrderedAndProject" in fp


def test_ds3_rollup_flows_into_rank_window(spark, sf_dir):
    """ds3's hierarchy comes from ONE Expand-based rollup (no re-scan
    per level), part broadcasts, and the sibling ranking adds exactly
    one more exchange — 2 total, no sort-merge join."""
    plan = executed_plan(Q["ds3_hierarchy_rank"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window") == 1


def test_ds4_deep_rollup_topk_plan(spark, sf_dir):
    """ds4's 4-level hierarchy is ONE Expand (5 grouping sets, no
    re-scan per level), part broadcasts, and the per-type ranking adds
    exactly one more exchange; the k-filter runs above the window."""
    plan = executed_plan(Q["ds4_rollup_topk"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    # the rank<=k filter lowers to a Partial+Final WindowGroupLimit
    # pair — the map side prunes to top-k per type BEFORE the rank
    # exchange, which is what keeps the window linear at 100 TB
    assert plan.count("WindowGroupLimit") == 2
    assert plan.count("Window [") == 1


def test_ds5_semi_chain_no_self_join_pairs(spark, sf_dir):
    """ds5 replaces Q95's lineitem self-join with ONE fused aggregate
    pass (min/max suppkey + any-returned flag — no distinct Expand)
    gating the orders scan through a SINGLE LEFT SEMI probe: lineitem
    scanned once, shuffled once, date filter pushed to orders, no
    inner join anywhere (nothing materializes line pairs). Reworked r9
    off the 300x rung (two scans + two probes → one of each)."""
    plan = executed_plan(Q["ds5_semi_join_chain"](spark, sf_dir))
    assert plan.count("LeftSemi") == 1
    assert "Join Inner" not in plan and "SortMergeJoin Inner" not in plan
    assert "Expand" not in plan  # no two-phase distinct rewrite
    fp = formatted_plan(Q["ds5_semi_join_chain"](spark, sf_dir))
    assert fp.count("lineitem.parquet") == 1  # ONE lineitem scan
    assert "GreaterThanOrEqual(o_orderdate," in fp


def test_ds6_one_scan_eight_cells(spark, sf_dir):
    """ds6 computes all eight band cells from ONE lineitem pass (the
    canonical Q88 runs eight scans): a single parquet scan, no join,
    and exactly the one single-partition gather of eight longs."""
    plan = executed_plan(Q["ds6_multi_band_counts"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1  # matches FileScan parquet too
    assert "Join" not in plan
    assert plan.count("Exchange SinglePartition") == 1
    fp = formatted_plan(Q["ds6_multi_band_counts"](spark, sf_dir))
    assert "EqualTo(l_returnflag,N)" in fp


def test_ds7_cohorts_gate_fact_as_semi_probes(spark, sf_dir):
    """ds7's two cohorts stay LEFT SEMI probes (aggregate-reduced
    before touching the fact side), and the prior-year + target-period
    date filters are pushed to the scans."""
    plan = executed_plan(Q["ds7_frequent_buyer_chain"](spark, sf_dir))
    assert plan.count("LeftSemi") == 2
    fp = formatted_plan(Q["ds7_frequent_buyer_chain"](spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate," in fp
    assert "GreaterThanOrEqual(l_shipdate," in fp


def test_ds13_returns_join_collapsed_to_case(spark, sf_dir):
    """ds13's canonical Q93 fact⋈returns LEFT OUTER is legal to fuse
    because the returns row derives 1:1 from the fact row: the plan
    must scan lineitem exactly ONCE, carry no outer join, and fuse the
    customer-rollup top-k (TakeOrderedAndProject)."""
    fp = formatted_plan(Q["ds13_returns_impact"](spark, sf_dir))
    import re as _re

    li_scans = sum(
        1
        for b in _re.split(r"\n(?=\(\d+\) )", fp)
        if b.startswith("(") and "Scan parquet" in b.split("\n", 1)[0] and "lineitem" in b
    )
    assert li_scans == 1, fp
    plan = executed_plan(Q["ds13_returns_impact"](spark, sf_dir))
    assert "LeftOuter" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ts4_bounds_broadcast_one_group_exchange(spark, sf_dir):
    """ts4's global (lo, hi) bounds frame is one row — it must
    BROADCAST into the bucketing scan (never shuffle the corpus
    against it), and the only hash exchange is the (type, segment)
    rollup of O(types × segments) rows."""
    plan = executed_plan(Q["ts4_downsample_paa"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds × corpus
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_l49_hot_shingles_removed_before_pair_kernel(spark, sf_dir):
    """l49's pair generation must bound per-key group state BY
    CONSTRUCTION: the boilerplate (df > cap) shingle set is anti-joined
    out of the postings BEFORE pair generation, and pairs come from the
    Arrow numpy kernel over one (fp1, fp2) exchange (r12 rework — the
    collect_set + double-explode form's object aggregation was the
    100x rung's superlinear term) — never a corpus-sized postings
    self-join (no SortMergeJoin touches the postings)."""
    plan = executed_plan(Q["l49_containment_pairs"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "MapInPandas" in plan
    assert "collect_set" not in plan
    assert "SortMergeJoin" not in plan


def test_w7_time_range_frame_one_exchange(spark, sf_dir):
    """w7's trailing time-window is a RANGE frame over one user_id
    exchange — never a self-join or range join."""
    plan = executed_plan(Q["w7_trailing_range_frame"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "specifiedwindowframe(RangeFrame" in plan


def test_j21_nearest_asof_one_exchange_two_sorts(spark, sf_dir):
    """j21's two direction carries must share ONE hash exchange on
    user_id (Spark re-sorts locally for the reverse order) — union +
    windows, no range join, no candidate-pair explosion."""
    plan = executed_plan(Q["j21_nearest_asof"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2


def test_l52_fusion_is_topk_not_global_sort(spark, sf_dir):
    """Both retrievers must lower to TakeOrderedAndProject (per-partition
    top-k, no global sort), and no cartesian product may appear — the
    fusion join is keyed on doc_id over two k-row frames."""
    plan = executed_plan(Q["l52_hybrid_rrf"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") == 2
    assert "CartesianProduct" not in plan


def test_l53_band_join_is_equi_keyed_narrow(spark, sf_dir):
    """The phash candidate join must be an equality hash join on
    (band, bv) — never a nested-loop over doc pairs — and the only
    Python crossing is the hash kernel (mapInPandas; it prints once
    per join side in the executed tree, never more)."""
    plan = executed_plan(Q["l53_phash_neardup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert 1 <= plan.count("MapInPandas") <= 2


def test_l54_exact_side_is_partition_local_topk(spark, sf_dir):
    """The brute-force eval side runs in ONE MapInPandas kernel over the
    quantized scan (partition-local top-k), so the global rank window
    sees partial rows, not the N x Q distance matrix; the IVF side
    rides l3d unchanged."""
    plan = formatted_plan(Q["l54_ann_recall_eval"](spark, sf_dir))
    assert plan.count("MapInPandas") >= 1
    assert "CartesianProduct" not in plan
