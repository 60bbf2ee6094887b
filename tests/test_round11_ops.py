"""Round-11 additions: delta-pruned t20 streaming MERGE (VERDICT r10
item 1 + the two ADVICE r10 t20 items), plus the other ADVICE r10
hardening fixes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from sparkstreaming_mq_spark.session import get_spark

    return get_spark(app_name="round11-tests", shuffle_partitions=8)


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


class TestCdcDeltaPrune:
    """cdc_upsert_run: per-epoch write work must scale with the
    delta's bucket footprint, not the store size (VERDICT r10 top
    item — the old form rewrote the ENTIRE store every epoch)."""

    def _trickle_stream(self, spark, tmp_path):
        """chunk 0 = full sf0.001 events bulk load; chunk 1 = a
        1-row update for a single user — the classic small-delta CDC
        epoch. Returns (stream_df, the updated user_id)."""
        ev = load_table(spark, SF_DIR, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        base = str(tmp_path / "replay")
        c0 = os.path.join(base, "chunk_000")
        c1 = os.path.join(base, "chunk_001")
        ev.coalesce(1).write.parquet(c0)
        one_user = ev.orderBy("user_id").limit(1).collect()[0].user_id
        upd = (
            ev.filter(F.col("user_id") == one_user)
            .orderBy(F.desc("ts"), F.desc("event_id"))
            .limit(1)
            .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
            .withColumn("event_type", F.lit("trickle_update"))
        )
        upd.coalesce(1).write.parquet(c1)
        # chunk_000 must be delivered first: pin ascending mtimes the
        # way the replay chunk builder does
        import time

        t0 = time.time()
        for k, d in enumerate((c0, c1)):
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    os.utime(os.path.join(d, f), (t0 + 10 * k, t0 + 10 * k))
        from sparkstreaming_mq_spark.streaming.sources import (
            EVENTS_STREAM_SCHEMA,
        )

        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .load(base + "/chunk_*")
        ).select("user_id", "ts", "event_id", "event_type", "value")
        return stream, one_user

    def test_trickle_epoch_rewrites_one_bucket_not_the_store(
        self, spark, tmp_path
    ):
        from sparkstreaming_mq_spark.streaming.queries import cdc_upsert_run

        stream, one_user = self._trickle_stream(spark, tmp_path)
        final, stats, manifests = cdc_upsert_run(spark, stream, n_buckets=16)
        assert len(stats) == 2, stats
        bulk, trickle = stats
        # bulk load touches (nearly) every bucket; the 1-user delta
        # touches exactly one
        assert bulk["touched"] > 1
        assert trickle["touched"] == 1
        # the pruned epoch wrote ~1/16th of the store, not all of it
        assert trickle["bytes_written"] < bulk["bytes_written"] / 4, stats
        # and correctness is untouched: the updated user carries the
        # trickle row, everyone else their batch last-row
        row = final.filter(F.col("user_id") == one_user).collect()
        assert len(row) == 1 and row[0].event_type == "trickle_update"
        n_users = (
            load_table(spark, SF_DIR, "events")
            .select("user_id")
            .distinct()
            .count()
        )
        assert final.count() == n_users

    def test_zero_batch_stream_returns_empty_not_indexerror(
        self, spark, tmp_path
    ):
        """ADVICE r10: the old form raised IndexError on latest[-1]
        when the stream delivered no batches."""
        from sparkstreaming_mq_spark.streaming.queries import cdc_upsert_run
        from sparkstreaming_mq_spark.streaming.sources import (
            EVENTS_STREAM_SCHEMA,
        )

        empty_dir = str(tmp_path / "empty_replay")
        os.makedirs(empty_dir)
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .format("parquet")
            .load(empty_dir)
        ).select("user_id", "ts", "event_id", "event_type", "value")
        final, stats, manifests = cdc_upsert_run(spark, stream, n_buckets=4)
        assert stats == []
        assert final.count() == 0


class TestCdcVacuum:
    """cdc_vacuum: liveness is per BUCKET DIR, not per version dir —
    an old version's bucket that the latest manifest still points at
    must survive vacuuming that version."""

    def test_shared_buckets_survive(self, tmp_path):
        from sparkstreaming_mq_spark.streaming.queries import cdc_vacuum

        def mkbucket(v, b):
            d = tmp_path / f"v{v}" / f"__bucket={b}"
            os.makedirs(d)
            (d / "part-0.parquet").write_text("x")
            return str(d)

        # epoch 0 wrote buckets 0,1,2; epoch 1 rewrote only bucket 1 —
        # buckets 0,2 ride forward as pointers into v0
        v0 = {b: mkbucket(0, b) for b in (0, 1, 2)}
        v1 = {0: v0[0], 1: mkbucket(1, 1), 2: v0[2]}
        manifests = {0: v0, 1: dict(v1)}
        deleted, live = cdc_vacuum(manifests, keep_epochs=1)
        # only v0's bucket 1 (superseded) is dead; 0 and 2 are LIVE
        # even though they physically live under v0/
        assert deleted == [v0[1]]
        assert set(live) == set(v1.values())
        assert os.path.exists(v0[0]) and os.path.exists(v0[2])
        assert not os.path.exists(v0[1])
        assert list(manifests) == [1]

    def test_keep_all_deletes_nothing(self, tmp_path):
        from sparkstreaming_mq_spark.streaming.queries import cdc_vacuum

        d = tmp_path / "v0" / "__bucket=0"
        os.makedirs(d)
        (d / "part-0.parquet").write_text("x")
        manifests = {0: {0: str(d)}}
        deleted, live = cdc_vacuum(manifests, keep_epochs=5)
        assert deleted == [] and live == [str(d)]
        assert os.path.exists(d)


class TestJ18ProfilePath:
    """VERDICT r10 item 6: j18 accepts a precomputed (key, cnt)
    profile (the o18 shape / a stats table) so the hot-key detection
    pass stops rescanning the fact."""

    def test_profile_skips_fact_rescan_and_matches(self, spark):
        from sparkstreaming_mq_spark.operators.joins import (
            j18_hybrid_skew_join,
        )

        li = load_table(spark, SF_DIR, "lineitem")
        profile = li.groupBy(F.col("l_orderkey").alias("key")).agg(
            F.count("*").cast("long").alias("cnt")
        )
        # hot_min=3 forces a non-empty hot set even on uniform fixtures
        with_profile = j18_hybrid_skew_join(
            spark, SF_DIR, hot_min=3, key_profile=profile
        )
        without = j18_hybrid_skew_join(spark, SF_DIR, hot_min=3)
        got = {tuple(r) for r in with_profile.collect()}
        want = {tuple(r) for r in without.collect()}
        assert got == want and got

    def test_profile_plan_has_fewer_fact_scans(self, spark, tmp_path):
        from sparkstreaming_mq_spark.operators.joins import (
            j18_hybrid_skew_join,
        )

        def fact_scans(df) -> int:
            # formatted-plan detail blocks: "(n) Scan parquet" followed
            # by an Output/Location stanza naming the file path
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            import re

            blocks = re.split(r"\n(?=\(\d+\) )", plan)
            return sum(
                1
                for b in blocks
                if b.startswith("(")
                and "Scan parquet" in b.split("\n", 1)[0]
                and "lineitem" in b
            )

        li = load_table(spark, SF_DIR, "lineitem")
        profile = li.groupBy(F.col("l_orderkey").alias("key")).agg(
            F.count("*").cast("long").alias("cnt")
        )
        # materialize the profile as a stats table would be: a tiny
        # standalone parquet, so the j18 plan reads IT, not lineitem
        p = str(tmp_path / "statstbl")
        profile.write.mode("overwrite").parquet(p)
        stats_tbl = spark.read.parquet(p)
        pruned = j18_hybrid_skew_join(
            spark, SF_DIR, hot_min=3, key_profile=stats_tbl
        )
        # cold path (anti) + hot path (semi) = exactly 2 fact scans;
        # the detection pass's third scan must be gone
        assert fact_scans(pruned) == 2, fact_scans(pruned)


class TestBucketedOuterJoin:
    """j10d: the t19 bucketed-key rewrite applied to the LEFT OUTER
    stream-stream join (VERDICT r10 item 3) — output must be
    row-identical to j10c's equality-key-only form."""

    def test_j10d_matches_j10c(self, spark):
        j10c = registry.QUERIES["j10c_stream_outer_oracle"]
        j10d = registry.QUERIES["j10d_bucketed_outer_join"]
        got = {tuple(r) for r in j10d(spark, SF_DIR).collect()}
        want = {tuple(r) for r in j10c(spark, SF_DIR).collect()}
        assert got == want and got


class TestBucketedPublishSuccessGuard:
    """ADVICE r10: after a lost rename race, materialize_bucketed must
    verify the winner's dir is COMPLETE (_SUCCESS) before registering
    a catalog table over it — a stale partial dir would otherwise
    become a catalog table over corrupt files."""

    def test_rename_loser_with_partial_winner_raises(self, spark, tmp_path):
        from sparkstreaming_mq_spark.operators.storage import (
            materialize_bucketed,
        )

        path = str(tmp_path / "bucketed_tbl")
        # simulate a stale partial publish: dir exists, no _SUCCESS
        os.makedirs(path)
        with open(os.path.join(path, "part-garbage.parquet"), "w") as f:
            f.write("not parquet")
        df = load_table(spark, SF_DIR, "nation")
        with pytest.raises(RuntimeError, match="_SUCCESS"):
            materialize_bucketed(
                spark, df, "sg_test_partial_guard", path, "n_nationkey"
            )
        assert not spark.catalog.tableExists("sg_test_partial_guard")


class TestRound11Operators:
    """The five mid-round-11 additions: prefix-filter similarity join,
    CUSUM change-point, winsorized mean, distribution drift, TABLE-arg
    UDTF. The DuckDB oracle checks value parity; these pin the
    engine-internal invariants the oracle can't see."""

    def test_l50_equals_naive_all_pairs(self, spark):
        """Prefix filtering is LOSSLESS: l50's output must equal the
        naive all-pairs shared-shingle computation (no prefix, no size
        filter) at the same threshold."""
        from sparkstreaming_mq_spark.operators.curation import (
            L38_NGRAM,
            L50_T_DEN,
            L50_T_NUM,
            _distinct_shingle_arrays,
            l50_prefix_filter_join,
        )

        d = load_table(spark, SF_DIR, "documents")
        dngs = _distinct_shingle_arrays(d, L38_NGRAM, "doc_id")
        docs = dngs.select(
            "doc_id", "_dngs", F.size("_dngs").cast("long").alias("n")
        ).filter(F.col("n") > 0)
        a = docs.select(
            F.col("doc_id").alias("doc_a"),
            F.col("_dngs").alias("_sa"),
            F.col("n").alias("n_a"),
            F.explode("_dngs").alias("ng"),
        )
        b = docs.select(
            F.col("doc_id").alias("doc_b"),
            F.col("_dngs").alias("_sb"),
            F.col("n").alias("n_b"),
            F.explode("_dngs").alias("ng"),
        )
        naive = (
            a.join(b, "ng")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "n_a", "n_b", "_sa", "_sb")
            .distinct()
            .select(
                "doc_a",
                "doc_b",
                "n_a",
                "n_b",
                F.size(F.array_intersect("_sa", "_sb"))
                .cast("long")
                .alias("n_shared"),
            )
            .filter(
                F.lit(L50_T_DEN + L50_T_NUM) * F.col("n_shared")
                >= F.lit(L50_T_NUM) * (F.col("n_a") + F.col("n_b"))
            )
        )
        got = {
            (r.doc_a, r.doc_b, r.n_a, r.n_b, r.n_shared)
            for r in l50_prefix_filter_join(spark, SF_DIR)
            .select("doc_a", "doc_b", "n_a", "n_b", "n_shared")
            .collect()
        }
        want = {tuple(r) for r in naive.collect()}
        assert got == want and len(got) > 0

    def test_l50_prefix_prunes_postings(self, spark):
        """The prefix keeps ~n - ceil(0.8 n) + 1 of each doc's shingles
        — the postings entering the self-join must shrink to well under
        half (measured 4.7x at sf0.001/sf0.1)."""
        from pyspark.sql import Window
        from sparkstreaming_mq_spark.operators.curation import (
            L38_NGRAM,
            L50_T_DEN,
            L50_T_NUM,
            _distinct_shingle_arrays,
        )

        d = load_table(spark, SF_DIR, "documents")
        dngs = _distinct_shingle_arrays(d, L38_NGRAM, "doc_id")
        posts = dngs.select(
            "doc_id",
            F.size("_dngs").cast("long").alias("n"),
            F.explode("_dngs").alias("ng"),
        )
        dfreq = posts.groupBy("ng").agg(F.count("*").alias("df"))
        wdoc = Window.partitionBy("doc_id").orderBy("df", "ng")
        pref = (
            posts.join(dfreq, "ng")
            .select("doc_id", "n", F.row_number().over(wdoc).alias("pos"))
            .filter(
                F.col("pos")
                <= F.col("n")
                - F.expr(f"(n * {L50_T_NUM} + {L50_T_DEN - 1}) div {L50_T_DEN}")
                + 1
            )
        )
        n_all, n_pref = posts.count(), pref.count()
        assert 0 < n_pref < n_all * 0.5

    def test_ts6_finds_planted_level_shift(self, spark):
        """CUSUM on a constructed series — 48 h at value 10.00 then
        48 h at 20.00 — must place the change point at the boundary
        hour (the last hour of the first regime maximizes |S_k -
        (k/N) S_N| for a single level shift)."""
        import datetime as dt

        rows = []
        t0 = dt.datetime(2024, 1, 1)
        for h in range(96):
            rows.append(
                (h, t0 + dt.timedelta(hours=h), 1, "shift", 10.0 if h < 48 else 20.0, "")
            )
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        import tempfile, os

        with tempfile.TemporaryDirectory() as tmp:
            df.write.parquet(os.path.join(tmp, "events.parquet"))
            from sparkstreaming_mq_spark.operators.timeseries import (
                ts6_cusum_changepoint,
            )

            out = ts6_cusum_changepoint(spark, tmp).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_hours == 96
        # session tz is not UTC-pinned, so compare against the hour
        # numbers of the frame's own timestamps: the change point must
        # be the 48th hour of the series (last hour of regime 1).
        hours = sorted(
            int(x.ts.timestamp()) // 3600 for x in df.select("ts").collect()
        )
        assert r.cp_hour == hours[47]
        # peak deviation: regime delta 1000 cents * 24h * ... > 0
        assert r.peak_dev_cents > 0

    def test_w8_no_clipping_when_small_group(self, spark):
        """n < 20 => lo_rank = 1 and hi_rank = n: nothing clips and the
        winsorized mean equals the plain floor mean; with a planted
        outlier in a bigger group, the winsorized mean must move
        strictly less than the raw mean."""
        import tempfile, os
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        small = [(i, t0, 1, "small", float(i + 1), "") for i in range(10)]
        big = [(100 + i, t0, 2, "big", 10.0, "") for i in range(99)] + [
            (199, t0, 2, "big", 100000.0, "")
        ]
        df = spark.createDataFrame(
            small + big,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        with tempfile.TemporaryDirectory() as tmp:
            df.write.parquet(os.path.join(tmp, "events.parquet"))
            from sparkstreaming_mq_spark.operators.windows import w8_winsorized_mean

            out = {r.event_type: r for r in w8_winsorized_mean(spark, tmp).collect()}
        s = out["small"]
        assert s.n_events == 10
        # plain mean of 1..10 dollars = 5.50
        assert s.winsorized_mean_cents == 550
        b = out["big"]
        # the 100k outlier is clipped to the p95 value (10.00)
        assert b.hi_cents == 1000
        assert b.winsorized_mean_cents == 1000

    def test_x6_shares_sum_to_million(self, spark):
        from sparkstreaming_mq_spark.operators.audit import x6_distribution_drift

        rows = x6_distribution_drift(spark, SF_DIR).collect()
        n_buckets = len(rows)
        tot_a, tot_b = sum(r.ppm_a for r in rows), sum(r.ppm_b for r in rows)
        # integer floor-division loses < 1 ppm per bucket
        assert 1_000_000 - n_buckets <= tot_a <= 1_000_000
        assert 1_000_000 - n_buckets <= tot_b <= 1_000_000
        assert all(r.abs_ppm_diff == abs(r.ppm_a - r.ppm_b) for r in rows)

    def test_u9_matches_groupby_twin(self, spark):
        """The TABLE-arg UDTF's per-partition accumulation must equal
        the declarative groupBy/window twin inside Spark itself."""
        from pyspark.sql import Window
        from sparkstreaming_mq_spark.operators.udfs import u9_udtf_table_arg

        got = {
            r.user_id: (r.n_events, r.n_purchases, r.first_event_type,
                        r.last_event_type, r.sum_cents)
            for r in u9_udtf_table_arg(spark, SF_DIR).collect()
        }
        ev = load_table(spark, SF_DIR, "events").select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("uts"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        w = Window.partitionBy("user_id").orderBy("uts", "event_id")
        wfull = Window.partitionBy("user_id")
        twin = (
            ev.select(
                "user_id",
                "event_type",
                "cents",
                F.row_number().over(w).alias("rn"),
                F.count("*").over(wfull).alias("n"),
            )
            .groupBy("user_id")
            .agg(
                F.max("n").cast("long").alias("n_events"),
                F.sum((F.col("event_type") == "purchase").cast("long"))
                .cast("long")
                .alias("n_purchases"),
                F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
                    "first_event_type"
                ),
                F.max(F.when(F.col("rn") == F.col("n"), F.col("event_type"))).alias(
                    "last_event_type"
                ),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
        )
        want = {
            r.user_id: (r.n_events, r.n_purchases, r.first_event_type,
                        r.last_event_type, r.sum_cents)
            for r in twin.collect()
        }
        assert got == want and len(got) > 0


class TestRound11Batch3:
    """e8 time-bounded funnel, a17 weighted median, t21 streaming
    drift gate — engine-internal invariants beyond the oracles."""

    def _write_events(self, spark, tmp, rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        import os

        df.write.parquet(os.path.join(tmp, "events.parquet"))

    def test_e8_windows_bite(self, spark):
        """user 1 converts fully inside the windows; user 2's click is
        61 min after the view (expired); user 3's purchase is 25 h
        after the click (expired)."""
        import datetime as dt
        import tempfile

        t0 = dt.datetime(2024, 1, 1)
        m = lambda mins: t0 + dt.timedelta(minutes=mins)  # noqa: E731
        rows = [
            (1, m(0), 1, "view", 1.0, ""), (2, m(30), 1, "click", 1.0, ""),
            (3, m(90), 1, "purchase", 1.0, ""),
            (4, m(0), 2, "view", 1.0, ""), (5, m(61), 2, "click", 1.0, ""),
            (6, m(90), 2, "purchase", 1.0, ""),
            (7, m(0), 3, "view", 1.0, ""), (8, m(30), 3, "click", 1.0, ""),
            (9, m(30 + 25 * 60), 3, "purchase", 1.0, ""),
        ]
        with tempfile.TemporaryDirectory() as tmp:
            self._write_events(spark, tmp, rows)
            from sparkstreaming_mq_spark.operators.events_analytics import (
                e8_timebound_funnel,
            )

            r = e8_timebound_funnel(spark, tmp).collect()[0]
        assert (r.n_viewed, r.n_clicked_1h, r.n_purchased_24h) == (3, 2, 1)
        # user 1: view at t0, purchase at +90 min = 5400 s
        assert r.total_conversion_s == 5400

    def test_a17_hand_check_and_unweighted_degeneracy(self, spark):
        """Weights {1: x1, 9: x2} put the weighted median at the heavy
        value; with all weights equal it must equal the plain
        rank-median value."""
        from sparkstreaming_mq_spark.operators.aggregates import a17_weighted_median
        import tempfile, os

        rows = [
            # flag 'W': values 1..4 dollars, weight 9 on value 4
            (1, 1, 1.0, 1.00, "W"), (2, 1, 1.0, 2.00, "W"),
            (3, 1, 1.0, 3.00, "W"), (4, 1, 9.0, 4.00, "W"),
            # flag 'U': equal weights, even count -> lower middle by
            # the 2*wcum >= wtot contract
            (5, 1, 1.0, 10.00, "U"), (6, 1, 1.0, 20.00, "U"),
            (7, 1, 1.0, 30.00, "U"), (8, 1, 1.0, 40.00, "U"),
        ]
        df = spark.createDataFrame(
            rows,
            "l_orderkey long, l_linenumber int, l_quantity double, "
            "l_extendedprice double, l_returnflag string",
        )
        with tempfile.TemporaryDirectory() as tmp:
            df.write.parquet(os.path.join(tmp, "lineitem.parquet"))
            out = {
                r.l_returnflag: r
                for r in a17_weighted_median(spark, tmp).collect()
            }
        # W: wtot=1200 cents-weight; cum at v=400 cents... weights in
        # cents: 100,100,100,900 -> crossing 600 happens at v=4.00
        assert out["W"].wmedian_cents == 400
        # U: equal weights, first value with 2*wcum >= wtot is 20.00
        assert out["U"].wmedian_cents == 2000

    def test_t21_zero_drift_on_stationary_stream(self, spark):
        """A corpus whose every row lands in one bucket has ppm=1e6
        there in every epoch — drift must be exactly 0 for all
        epochs, and the epochs must partition the corpus."""
        import datetime as dt
        import tempfile

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (i, t0 + dt.timedelta(minutes=i), 1, "view", 5.0, "")
            for i in range(400)
        ]
        with tempfile.TemporaryDirectory() as tmp:
            self._write_events(spark, tmp, rows)
            from sparkstreaming_mq_spark.streaming.queries import (
                t21_stream_drift_gate,
            )

            out = t21_stream_drift_gate(spark, tmp).collect()
        assert len(out) == 4
        assert sum(r.n_rows for r in out) == 400
        assert all(r.drift_ppm == 0 for r in out)


class TestA18AssocRules:
    """a18_copurchase_rules: hand-checked support/confidence/lift on a
    constructed basket set."""

    def test_hand_checked_lift(self, spark):
        import tempfile, os

        # 4 orders: {1,2} x2, {1,3}, {2,3} -> pair (1,2) n=2;
        # items: 1 in 3 orders, 2 in 3, 3 in 2; N=4
        rows = []
        baskets = [(10, [1, 2]), (11, [1, 2]), (12, [1, 3]), (13, [2, 3])]
        ln = 0
        for ok, parts in baskets:
            for p in parts:
                ln += 1
                rows.append((ok, p, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O",
                             __import__("datetime").datetime(2024, 1, 1)))
        df = spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, "
            "l_shipdate timestamp",
        )
        with tempfile.TemporaryDirectory() as tmp:
            df.write.parquet(os.path.join(tmp, "lineitem.parquet"))
            from sparkstreaming_mq_spark.operators.aggregates import (
                a18_copurchase_rules,
            )

            out = a18_copurchase_rules(spark, tmp).collect()
        # only (1,2) crosses MIN_PAIR=2
        assert len(out) == 1
        r = out[0]
        assert (r.part_a, r.part_b, r.n_pair, r.n_a, r.n_b) == (1, 2, 2, 3, 3)
        assert r.support_ppm == 2 * 1_000_000 // 4
        assert r.conf_ab_ppm == 2 * 1_000_000 // 3
        # lift = (2/4) / ((3/4)*(3/4)) = 8/9
        assert r.lift_ppm == 2 * 4 * 1_000_000 // 9


class TestF17TryArithmetic:
    """f17: the try_* forms must NULL exactly where plain ANSI
    expressions raise — the semantic claim the oracle's CASE guards
    encode."""

    def test_ansi_raises_where_try_nulls(self, spark):
        from sparkstreaming_mq_spark.operators.scalar_functions import F17_BIG

        one = spark.range(1)
        # division by zero
        with pytest.raises(Exception):
            one.selectExpr("CAST(id AS BIGINT) / 0 AS x").selectExpr(
                "CAST(x AS STRING)"
            ).collect()
        assert (
            one.selectExpr("try_divide(1, 0) AS x").collect()[0].x is None
        )
        # BIGINT overflow at the documented 1024/1025 boundary
        ok = one.selectExpr(f"try_multiply(1024L, {F17_BIG}L) AS x").collect()[0].x
        assert ok == 1024 * F17_BIG
        bad = one.selectExpr(f"try_multiply(1025L, {F17_BIG}L) AS x").collect()[0].x
        assert bad is None
        with pytest.raises(Exception):
            one.selectExpr(f"1025L * {F17_BIG}L AS x").collect()
        # bad cast
        assert (
            one.selectExpr("try_cast('click' AS BIGINT) AS x").collect()[0].x
            is None
        )
