#!/usr/bin/env python
"""Bounded-cluster rung for l51_cluster_survivorship (VERDICT r13
item 2).

The r13 10x rung read 10.2x wall on 10x rows (zero spill) on the
TAIL-SALTED scale corpus. r13 attributed that to quadratic
intra-cluster pair growth in the corpus; the r14 investigation found
BOTH the corpus and the attribution wrong:

- deep-salt (positional, every 4th token) is an invalid instrument
  for the CLUSTER family: near-dup pair members differ in token
  count, so positional salting salts DIFFERENT tokens across the
  pair, destroying within-copy similarity (measured: keepers 43300
  on deepsalt-10x vs the 11950 = 10x base a valid corpus must give).
  The valid instrument is FULLSALT (build_deepsalt_docs.py
  --salt-every 1): a per-copy token bijection preserves within-copy
  Jaccard exactly and zeroes cross-copy Jaccard, so cluster size is
  bounded at base as copies grow and keepers = copies x base keepers
  EXACTLY on the exact path.
- the 10x step itself is NOT cluster structure: l51's pairs come
  from l2_minhash_lsh, which is exact_required — below the
  L2B_MAX_BROADCAST_DOCS(1M) cliff it runs the exact blocked-
  broadcast bitmap kernel, O(n^2/2) pair evals BY DESIGN (recall 1.0
  for the full value-hash oracle). 5k docs -> 12.5M pair evals; 50k
  -> 1.25G. The stage profile (measurements/, CPU-bound count stage,
  zero spill, ~4 MB shuffle) pins the wall there. Past the cliff —
  the actual 100 TB regime — l2 switches to banded LSH + verify and
  the step goes near-linear; --mode banded forces that path
  (L2B_MAX_BROADCAST_DOCS=0, the tests/test_semantics.py pattern).

Usage: python scripts/l51_rung.py <dir> [--mode exact|banded]
       [--warm <dir>] [--runs N]
Prints one JSON line: wall(s) per run, rows, keepers, and the last
run's ``spark_metrics.measure`` record (stage attribution, spill).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from sparkstreaming_mq_spark import registry  # noqa: E402
from sparkstreaming_mq_spark.operators import llm  # noqa: E402
from sparkstreaming_mq_spark.session import get_spark  # noqa: E402
from spark_metrics import measure  # noqa: E402


def main() -> int:
    args = list(sys.argv[1:])
    mode = "exact"
    if "--mode" in args:
        i = args.index("--mode")
        mode = args[i + 1]
        del args[i : i + 2]
    warm_dir = None
    if "--warm" in args:
        i = args.index("--warm")
        warm_dir = args[i + 1]
        del args[i : i + 2]
    runs = 1
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0]

    if mode == "banded":
        # Force the past-the-cliff path (the 100 TB regime) exactly the
        # way tests/test_semantics.py::test_minhash_recall_vs_exact does.
        llm.L2B_MAX_BROADCAST_DOCS = 0

    registry.load_all()
    spark = get_spark(
        app_name="l51-rung",
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "24g"},
    )
    fn = registry.QUERIES["l51_cluster_survivorship"]
    rec: dict = {"dir": sf_dir, "mode": mode}
    if warm_dir:
        rec["warm_s"] = measure(spark, lambda: fn(spark, warm_dir))["wall_s"]
    counts = []

    def l51_counts():
        # the timed program is l51 plus one (rows, keepers) aggregate;
        # measure counts the returned one-row frame
        counts.append(
            fn(spark, sf_dir)
            .agg(F.count("*").alias("rows"), F.sum("keep").alias("keepers"))
            .collect()[0]
        )
        return spark.createDataFrame(counts[-1:])

    runs_rec = [measure(spark, l51_counts) for _ in range(runs)]
    rec.update(
        {
            "walls_s": [r["wall_s"] for r in runs_rec],
            "rows": counts[-1]["rows"],
            "keepers": int(counts[-1]["keepers"]),
            "measure": runs_rec[-1],
        }
    )
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
