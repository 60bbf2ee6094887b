"""Skew-stress rung for the scale ladder (VERDICT r9 item 1).

`scale_smoke.py`'s replicas key-remap UNIFORMLY, so every measured
curve in BASELINE.md is skew-free — while the repo's own conventions
name "full shuffle on a skewed key" as the scale-killer class. This
script builds a replicated dataset where:

  - ONE order key owns ~20% of lineitem rows  (1-in-5 rows remapped to
    HOT_ORDERKEY; orders keeps unique keys, so the hot key is a
    classic fact-side join/group skew),
  - ONE boilerplate sentence is appended to ~20% of documents (its
    8-token shingles each own ~20% of the fp-keyed postings — the
    l38/l42 fingerprint-exchange hot keys),
  - ONE user owns ~10% of events (join skew for j11's salted-vs-plain
    comparison; streaming-state skew for the t15 stretch).

and runs the worst shuffle shapes from the uniform ladder on BOTH the
uniform and the skewed dataset at the same copy count, recording:

  wall-clock uniform vs skewed, AQE skew-split evidence (skew=true in
  the executed plan), and per-query spill deltas from the UI REST API.

What "pass" means per family (the 100 TB claims under test):
  - ds5 / l38 / l42: map-side partial aggregation absorbs the hot key
    BEFORE the exchange (min/max/count are combinable) — skewed wall
    should be ~uniform wall, no single-task straggler.
  - j1: the hot key hits the lineitem⋈orders sort-merge join — AQE
    skew splitting must engage (skew=true) or the plan needs salting.
  - j11: the salted form must stay flat under skew; the script also
    times the UNSALTED twin as the control.

Usage: python scripts/skew_smoke.py [n_copies] [query-substr ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.session import get_spark
from sparkstreaming_mq_spark.tables import load_table

from scale_smoke import KEYSPAN, SRC, build as build_uniform
from spark_metrics import measure

HOT_ORDERKEY = 1          # exists once in orders (copy 0)
HOT_USER = 1              # a valid c_custkey
LI_HOT_MOD = 5            # 1-in-5 lineitem rows -> ~20% on the hot key
DOC_HOT_MOD = 5           # 1-in-5 documents carry the boilerplate
EV_HOT_MOD = 10           # 1-in-10 events -> hot user
# ~20 tokens -> ~13 hot 8-token shingles, each with df ~= 0.2N
BOILER = (
    "this document is provided as is without warranty of any kind either "
    "express or implied including fitness for purpose"
)

QUERIES = [
    "ds5_semi_join_chain",   # fused min/max aggregate on the skewed group key
    "j1_inner_equi",         # SMJ directly on the hot join key
    "ds4_rollup_topk",       # rank exchange control (part keys untouched)
    "l38_dup_density",       # fp-keyed postings exchange with hot shingles
    "l42_novelty_attribution",
    # r10 skew-mitigation operators: j18 routes the 20%-hot order key
    # through its broadcast branch (default 100k threshold trips at
    # this scale); w6 spreads the intrinsically-huge event_type window
    # partitions over 32 salt buckets.
    "j18_hybrid_skew_join",
    "w6_twophase_topk",
    # r11: prefix filtering's whole claim is boilerplate-robustness —
    # the ~13 hot shingles (df ~= 0.2N each) would nominate ~(0.2N)^2
    # candidate pairs in a naive shared-token join, but rarest-first
    # ordering keeps them out of every prefix, so skewed wall should
    # track uniform wall.
    "l50_prefix_filter_join",
]


def build_skew(spark, out_dir: str, n_copies: int) -> None:
    done = os.path.join(out_dir, "_READY")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    copies = spark.range(n_copies).withColumnRenamed("id", "i")

    def rep(name, df):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    li = load_table(spark, SRC, "lineitem").crossJoin(F.broadcast(copies))
    shifted = F.col("l_orderkey") + F.col("i") * KEYSPAN
    hot_li = (
        F.pmod(F.xxhash64(F.col("l_orderkey") * 7 + F.col("l_linenumber"), F.col("i")), F.lit(LI_HOT_MOD))
        == 0
    )
    rep(
        "lineitem",
        li.withColumn(
            "l_orderkey", F.when(hot_li, F.lit(HOT_ORDERKEY)).otherwise(shifted)
        ).drop("i"),
    )
    orders = load_table(spark, SRC, "orders").crossJoin(F.broadcast(copies))
    rep(
        "orders",
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.col("i") * KEYSPAN).drop("i"),
    )
    docs = load_table(spark, SRC, "documents").crossJoin(F.broadcast(copies))
    rep(
        "documents",
        docs.withColumn("doc_id", F.col("doc_id") + F.col("i") * KEYSPAN)
        .withColumn("text", F.concat(F.col("text"), F.lit(" copy"), F.col("i")))
        .withColumn(
            "text",
            F.when(
                F.pmod(F.xxhash64("doc_id"), F.lit(DOC_HOT_MOD)) == 0,
                F.concat(F.col("text"), F.lit(" "), F.lit(BOILER)),
            ).otherwise(F.col("text")),
        )
        .drop("i"),
    )
    ev = load_table(spark, SRC, "events").crossJoin(F.broadcast(copies))
    rep(
        "events",
        ev.withColumn("event_id", F.col("event_id") + F.col("i") * KEYSPAN)
        .withColumn("ts", F.col("ts") + F.make_interval(days=F.col("i") * F.lit(35)))
        .withColumn(
            "user_id",
            F.when(
                F.pmod(F.xxhash64("event_id", F.col("i")), F.lit(EV_HOT_MOD)) == 0,
                F.lit(HOT_USER),
            ).otherwise(F.col("user_id") + (F.col("i") % 5) * KEYSPAN),
        )
        .drop("i"),
    )
    for dim in ("region", "nation", "customer", "supplier", "part"):
        rep(dim, load_table(spark, SRC, dim))
    open(done, "w").close()


from contextlib import contextmanager

# Why a demonstration conf exists: at local-100× the hot j1 partition
# (12.0M rows on one order key) lands at only ~16-32 MB of COMPRESSED
# MapStatus bytes — a constant-key block compresses ~6-10× better
# than the table average, so it sits under the default 256 MB
# skewedPartitionThresholdInBytes and AQE correctly judges it not
# worth splitting on this box (measured: skew_joins=0 at 32m, fires
# at 16m; without the split the hot task absorbs a 167 MB sort
# spill). At cluster scale the same 20% key is multi-GB compressed
# and crosses the default threshold with no tuning. Scaling the
# threshold DOWN to the measured compressed-partition scale
# demonstrates the mechanism the 100 TB claim rests on.
DEMO_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
}
# events is a 10× smaller table: its ~1M-row hot-user partition is
# ~1-3 MB compressed, so the j11 demonstration needs its own rung.
DEMO_CONF_SMALL = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
}


@contextmanager
def conf_override(spark, conf: dict):
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def plain_events_customer_join(spark, sf_dir: str):
    """UNSALTED twin of j11 — the control that shows what the salt buys
    under a hot user key."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def main() -> int:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    filters = sys.argv[2:]
    uni_dir = f"/tmp/sparkgraft_scale_{n_copies}x_v2"
    skew_dir = f"/tmp/sparkgraft_skew_{n_copies}x"
    registry.load_all()
    spark = get_spark(
        app_name="skew-smoke",
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "24g"},
    )
    t0 = time.time()
    build_uniform(spark, uni_dir, n_copies)
    build_skew(spark, skew_dir, n_copies)
    print(f"build: {time.time() - t0:.1f}s -> {skew_dir}")

    names = [n for n in QUERIES if not filters or any(f in n for f in filters)]
    results = {}
    for name in names:
        fn = registry.QUERIES[name]
        row = {}
        for label, d in (("uniform", uni_dir), ("skew", skew_dir)):
            row[label] = measure(spark, lambda: fn(spark, d))
        row["skew_ratio"] = round(
            row["skew"]["wall_s"] / max(row["uniform"]["wall_s"], 1e-9), 2
        )
        results[name] = row
        print(
            f"{name:26s} uniform {row['uniform']['wall_s']:7.2f}s  "
            f"skew {row['skew']['wall_s']:7.2f}s  ({row['skew_ratio']:4.2f}x)  "
            f"skew_joins={row['skew']['skew_joins']}  "
            f"spill={row['skew']['disk_spill'] + row['skew']['memory_spill']:,}"
        )

    # j1 demonstration pass: same skewed data, thresholds scaled down
    # by the data's scale-down factor — AQE skew split must now fire
    # and the hot-task sort spill must shrink/vanish.
    if not filters or any(f in "j1_inner_equi" for f in filters):
        with conf_override(spark, DEMO_CONF):
            r = results["j1_demo_thresholds"] = measure(
                spark, lambda: registry.QUERIES["j1_inner_equi"](spark, skew_dir)
            )
        print(
            f"j1 demo-thresholds         skew-dir {r['wall_s']:7.2f}s  "
            f"skew_joins={r['skew_joins']}  "
            f"spill={r['disk_spill'] + r['memory_spill']:,}"
        )

    # salted-vs-plain under the hot user key, with the customer
    # broadcast DISABLED: broadcast joins are skew-immune (no shuffle
    # on the key), so the salt-vs-AQE question only exists in the
    # shuffle-join regime a too-big-to-broadcast dim forces.
    if not filters or any(f in "j11_salted_skew_join" for f in filters):
        fn = registry.QUERIES["j11_salted_skew_join"]
        no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        matrix = (
            ("salted_smj", fn, no_bcast),
            ("plain_smj", plain_events_customer_join, no_bcast),
            ("plain_smj_demo", plain_events_customer_join, {**no_bcast, **DEMO_CONF_SMALL}),
            ("plain_broadcast", plain_events_customer_join, {}),
        )
        for label, q, conf in matrix:
            with conf_override(spark, conf):
                r = results[f"j11_{label}"] = measure(spark, lambda: q(spark, skew_dir))
            print(f"j11 {label:22s} skew-dir {r['wall_s']:7.2f}s  skew_joins={r['skew_joins']}")

    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
