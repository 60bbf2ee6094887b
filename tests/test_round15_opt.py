"""Round-15 OPTIMIZATION tests: internals changed for performance must
stay bit-equal to the forms they replaced.

- _jaccard_matrix_kernel (llm.py): the asymmetric batch-vs-corpus
  variant that replaced l34's crossJoin + zip_with/aggregate HOF
  scoring (the last interpreted-HOF pair loop on the dedup path).
  Pinned against a straight-line python reference, Spark-free, like
  the symmetric all-pairs kernel in test_round14_opt.py.
- q09/q20 partsupp-join elision (tpch_derived.py): partsupp is the
  distinct pair set OF lineitem with pure key-function values, so the
  inner/left pair joins back to lineitem collapse into inline
  expressions / a conditional aggregate. Plan pins assert the
  pair-distinct Exchange and the extra lineitem scan stay gone, and
  the invariant test checks partsupp against the inline values and
  the oracles' SQL derivation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.operators.llm import _jaccard_matrix_kernel
from sparkstreaming_mq_spark.operators.tpch_derived import (
    DERIVED_CTE,
    load_partsupp,
    ps_availqty,
    ps_supplycost_cents,
)
from sparkstreaming_mq_spark.tables import load_table

registry.load_all()
Q = registry.QUERIES


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q09_partsupp_join_elided(spark, sf_dir):
    """q09 computes ps_supplycost_cents inline: no pair-distinct
    Exchange, exactly 5 table scans (part/supplier/nation/orders +
    ONE lineitem — the before-plan had two), 4 broadcast joins."""
    plan = _formatted(Q["q09_product_profit"](spark, sf_dir))
    assert "hashpartitioning(ps_partkey" not in plan
    assert plan.count("Scan parquet") == 10  # 5 scans x (tree + detail)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q20_partsupp_build_fused_into_aggregate(spark, sf_dir):
    """q20's pair domain comes from ONE conditional aggregate over the
    part-filtered lineitem: no pair-distinct Exchange, exactly 4 table
    scans, and the only data-sized exchange keys on the lineitem pair
    columns."""
    plan = _formatted(Q["q20_potential_promotion"](spark, sf_dir))
    assert "hashpartitioning(ps_partkey" not in plan
    assert plan.count("Scan parquet") == 8  # 4 scans x (tree + detail)
    assert "hashpartitioning(l_partkey" in plan


def test_partsupp_is_a_pure_function_of_lineitem_pairs(spark, duck, sf_dir):
    """The elisions above hold only if every lineitem row joins exactly
    one partsupp row whose columns equal the per-row values q09/q20
    compute inline, and the oracles' SQL partsupp is that same table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        ps_availqty("l_partkey", "l_suppkey").alias("q20_availqty"),
        ps_supplycost_cents("l_partkey", "l_suppkey").alias("q09_supplycost_cents"),
    )
    ps = load_partsupp(spark, sf_dir)
    joined = li.join(
        ps,
        (F.col("l_partkey") == F.col("ps_partkey"))
        & (F.col("l_suppkey") == F.col("ps_suppkey")),
    )
    n_rows = li.count()
    assert n_rows > 0
    assert joined.count() == n_rows
    differ = (F.col("q20_availqty") != F.col("ps_availqty")) | (
        F.col("q09_supplycost_cents") != F.col("ps_supplycost_cents")
    )
    assert joined.filter(differ).count() == 0

    cols = ["ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost_cents"]
    got = ps.toPandas().sort_values(cols[:2]).reset_index(drop=True)
    want = duck.execute(
        f"WITH {DERIVED_CTE} SELECT {', '.join(cols)} FROM partsupp ORDER BY 1, 2"
    ).fetchdf()
    assert np.array_equal(got[cols].to_numpy("int64"), want[cols].to_numpy("int64"))


def _reference_asym(probe_ids, probe_mat, corp_ids, corp_mat, threshold):
    """Per-pair popcount ints, float division — the exact arithmetic
    the Catalyst HOF expression performed, probe x corpus."""
    out = []
    for i in range(len(probe_ids)):
        for j in range(len(corp_ids)):
            inter = sum(
                bin(int(probe_mat[i, w]) & int(corp_mat[j, w])).count("1")
                for w in range(probe_mat.shape[1])
            )
            union = (
                sum(bin(int(probe_mat[i, w])).count("1") for w in range(probe_mat.shape[1]))
                + sum(bin(int(corp_mat[j, w])).count("1") for w in range(corp_mat.shape[1]))
                - inter
            )
            if union == 0:
                continue
            jac = inter / union
            if jac >= threshold:
                out.append((int(probe_ids[i]), int(corp_ids[j]), jac))
    return sorted(out)


def test_asymmetric_kernel_matches_reference_bit_exact():
    rng = np.random.default_rng(15)
    n, w = 50, 2
    bases = rng.integers(0, 2**63, size=(4, w), dtype=np.int64).view(np.uint64)
    mat = bases[rng.integers(0, 4, size=n)].copy()
    mat &= rng.integers(0, 2**63, size=(n, w), dtype=np.int64).view(np.uint64)
    ids = np.arange(200, 200 + n, dtype=np.int64)
    # split like l34: every 5th doc is the incoming drop
    sel = ids % 5 == 0
    probe_ids, probe_mat = ids[sel], mat[sel]
    corp_ids, corp_mat = ids[~sel], mat[~sel]
    ref = _reference_asym(probe_ids, probe_mat, corp_ids, corp_mat, 0.3)
    k = _jaccard_matrix_kernel(
        probe_ids, probe_mat, corp_ids, corp_mat, 0.3, lt_only=False
    )
    frames = []
    # several pandas batches of probe positions like Arrow would send
    for s in np.array_split(np.arange(len(probe_ids)), 3):
        if not len(s):
            continue
        frames.extend(k(iter([pd.DataFrame({"pos": s})])))
    got = sorted(
        (int(a), int(b), float(j))
        for f in frames
        for a, b, j in zip(f["doc_a"], f["doc_b"], f["jac_raw"])
    )
    assert len(ref) > 0, "degenerate fixture: no pairs crossed the threshold"
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in ref]
    for (_, _, gj), (_, _, rj) in zip(got, ref):
        assert gj == rj  # bit-equal float64, not approx
