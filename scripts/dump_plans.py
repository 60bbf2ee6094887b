"""Regenerate PLANS.md: the executed physical plan of every bench
headline query at sf0.001, annotated with the scale property each plan
is expected to exhibit (the same properties tests/test_plans.py pins).

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.session import get_spark

# query -> the property a reviewer should find in the plan
HEADLINES = {
    "q01_pricing_summary": "pushed ts filter + 7-column pruned scan + 2-phase hash agg",
    "p1_project_filter_case": "both predicates in PushedFilters",
    "j1_inner_equi": "fact-fact shuffle join + broadcast customer dim",
    "j3_broadcast_dim": "BroadcastHashJoin, no SortMergeJoin",
    "j8_asof": "single exchange on user_id (union+window as-of form)",
    "j15_interval_overlap": "equi join on hour bucket — NO nested loop for a pure overlap predicate",
    "w1_ranking": "one exchange + partition-local sort",
    "o1_global_sort": "TakeOrderedAndProject (no global sort materialized)",
    "o10_bucketed_join": "SortMergeJoin with zero join-side Exchange (bucketed)",
    "o11_partitioned_prune": "PartitionFilters prunes the status directory",
    "o15_dynamic_pruning": "dynamicpruningexpression in the fact scan's PartitionFilters",
    "l1_exact_dedup": "sha2 hash-groupBy, single shuffle on digest",
    "l2_minhash_lsh": "exact path = MapInPandas popcount-matmul kernel over the checkpointed bitmap repr (r14; no join touches pair scoring)",
    "l3_cosine_topk": "bounded probe set broadcast, corpus never shuffles",
    "l17_domain_mixture": "narrow: no Exchange, no Python eval",
    "l25_bm25_retrieval": "term filter under the tf agg + TakeOrderedAndProject top-k",
    "l26_quantized_search": "integer dot-product kernel, broadcast probe side",
    "f10_sql_udf": "SQL-defined function inlined into the aggregate (no Python node)",
    "l28_kmeans_embed": "assignment = one scan vs centroid literals: no Join, no Exchange, no Python",
    "l29_token_budget": "one window Exchange on source; cumsum+rank in a single Window",
    "l30_incremental_dedup": "digest probe join + window share hashpartitioning(h)",
    "q03_shipping_priority": "broadcast segment dim + pushed date filters + TakeOrderedAndProject",
    "q05_local_supplier": "4+ BroadcastHashJoins, no SortMergeJoin — one fact-fact shuffle only",
    "g1_pagerank": "rank frame broadcasts into materialized edges: no SMJ/SHJ, one agg exchange per live round",
    "a11_heavy_hitters": "ONE corpus scan (checkpointed summaries feed both merge and total)",
    "e4_rolling_active": "user-day dedup materialized once; 7x explode + broadcast day semi-join",
    "w5_reset_running": "two stacked windows, ONE exchange (hashpartitioning(user_id) satisfies both)",
    "o16_global_rownum": "range partition + local sort + offsets: NO SinglePartition exchange anywhere",
    "a12_bitmap_distinct": "single bitmap-construct pass (checkpointed), both rollups reuse it",
    "l31_pq_search": "codes join broadcast LUT; corpus touched by narrow scans only",
    "f11_fuzzy_match": "dictionary collapse then blocked self-join; fact table scanned once",
    "l33_source_overlap": "ONE postings shuffle into collect_set; vocab frame checkpointed, no self-join",
    "l38_dup_density": "O(1) state per shingle (df, min owner); doc-cardinality join only, no lists",
    "l39_dup_spans": "positional postings join df>=2 side, one doc-keyed window for interval union",
    "e7_streak_islands": "ONE hashpartitioning(user_id) serves dedup + island window + span rollup",
    "g3_khop_reach": "3 BroadcastHashJoins (frontier into stationary edges), no SMJ/SHJ",
    "l41_perplexity_buckets": "grouped exact-ntile: window partitions (pid, lang), offsets broadcast",
    "o20_compaction_plan": "metadata-sized pack window over the pre-aggregated file inventory",
    "x4_table_fingerprint": "one scan -> one 64-group exchange, map-side partial XOR/SUM, no join",
    "l42_novelty_attribution": "owner-only shingle agg (no lists); doc-cardinality left join",
    "ds1_yoy_growth": "lag window replaces the Q4/Q11 self-join: join-free, <=3 exchanges",
    "ds2_cumulative_compare": "FULL-OUTER SortMergeJoin of two channel aggregates + ONE window",
    "ts1_gapfill_interp": "single-pass generator gap-fill: no grid join, 2 exchanges, 1 Generate",
    "ts2_ohlc_bars": "two rankings + bar aggregate on ONE (type, day) exchange",
    "ts3_seasonal_profile": "window baseline + rollup reuse one (type, hod) exchange, no join",
    "f15_parameterized_sql": "params bound pre-optimization: pushed size filter + fused top-k",
    "ds3_hierarchy_rank": "ONE Expand rollup -> rank window: 2 exchanges, no per-level re-scan",
    "ds4_rollup_topk": "5-set Expand + Partial/Final WindowGroupLimit: map-side top-k prune before the rank exchange",
    "ds5_semi_join_chain": "ONE fused min/max+flag aggregate replaces the Q95 self-join; single LEFT SEMI probe, lineitem scanned once",
    "ds6_multi_band_counts": "eight count FILTER cells from ONE scan (canonical Q88 scans 8x)",
    "ds7_frequent_buyer_chain": "two HAVING-reduced cohorts gate the fact scan as LEFT SEMI probes",
    "a5c_quantile_rollup": "MapInPandas partials before ANY exchange; only sketch rows shuffle (no raw value column past the scan stage)",
    "q11b_important_stock_bucketed": "bucketed partsupp scan; per-part agg inherits bucket distribution — zero Exchange on ps_partkey",
    "q16b_parts_supplier_bucketed": "bucketed partsupp probe: no lineitem scan (derivation paid at write time)",
    "ds8_variance_streaks": "lag window replaces the Q39 month self-join: map-side partials, 2 group-sized exchanges, no fact-fact join",
    "ds9_banded_trips": "HAVING band collapses the aggregate before any join; orders join reuses the orderkey partitioning",
    "f16_sql_pipe_syntax": "pipe stages lower to the classic plan: pushed status filter + two-phase aggregate",
    "g4_recursive_rollup": "native UnionLoop recursion from the per-user aggregate: join-free levels, two shuffles total",
    "j17_lateral_topk": "LATERAL decorrelated to rank window + Partial/Final WindowGroupLimit — no per-outer-row re-execution",
    "ds10_moving_deviation": "lag+lead in ONE window over group-sized cells (no monthly self-joins); TakeOrderedAndProject top-k",
    "q02b_min_cost_supplier_bucketed": "bucketed window probe: ZERO shuffle Exchanges — min-cost window rides the bucket distribution",
    "w6_twophase_topk": "two Window exchanges; the second moves only the |groups|*salts*k bucket survivors",
    "j18_hybrid_skew_join": "hot keys take BroadcastHashJoin (never shuffle); cold remainder keeps the planner's join; one union aggregate",
    "j20_binned_range_join": "pure range predicate planned as a hash join on the time bin — NO BroadcastNestedLoopJoin/CartesianProduct",
    "ds13_returns_impact": "returns LEFT-join collapsed to a CASE in the scan (1:1 self-derived); one exchange to the customer rollup + fused top-k",
    "ts4_downsample_paa": "16-byte bounds frame broadcast into the scan; one exchange of O(types x segments) rows",
    "l49_containment_pairs": "df-capped owner sets (hot shingles anti-joined out BEFORE collect_set); pair fanout <= cap^2 per shingle, denominators map-side",
    "w7_trailing_range_frame": "temporal RANGE frame on one user_id exchange — no self-join, sliding frame cursor",
    "j21_nearest_asof": "both direction carries share ONE user_id exchange (union + 2 windows) — no range join",
    "ts6_cusum_changepoint": "(type,hour) map-side collapse, then k/prefix/N/total/rank windows share ONE event_type exchange over the O(types x hours) frame",
    "w8_winsorized_mean": "rank+count windows, bound extraction and clipped sum on ONE event_type exchange; bounds rejoin broadcast",
    "x6_distribution_drift": "both generations counted from ONE 2-column scan via conditional aggs; 20-key exchange; single-partition window only over the 20-row bucket frame",
    "l50_prefix_filter_join": "df build + per-doc prefix rank; self-join fanout bounded by prefix-token df^2 (rarest tokens); verification candidate-bounded, narrow fp postings joins",
    "e8_timebound_funnel": "three chained conditional windows in ONE Window operator on one user_id exchange; per-user collapse + single-row gather",
    "a17_weighted_median": "running-weight window + partition total + conditional min reuse one l_returnflag exchange",
    "a18_copurchase_rules": "ONE orderkey exchange builds deduped baskets; supports, order count and pair explode all derive from it — no corpus-wide distinct",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    registry.load_all()
    spark = get_spark()
    out = [
        "# PLANS — executed physical plans of the headline queries\n",
        f"Generated by `python scripts/dump_plans.py {sf_dir}`. Each plan is",
        "the EXECUTED plan (post-AQE where applicable); the annotation names",
        "the scale property `tests/test_plans.py` pins for that query.\n",
    ]
    for name, note in HEADLINES.items():
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"\n## {name}\n\n**expected:** {note}\n\n```\n{plan}```\n")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo_root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINES)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
