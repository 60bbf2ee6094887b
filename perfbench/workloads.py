"""Benchmark workloads: which registered queries one pass runs, and why.

Every query here is registered in ``sparkstreaming_mq_spark.registry``
with a DuckDB oracle. ``mq_stateful`` is a closed-loop backlog drain:
its query replays the pre-written events backlog with
``Trigger.AvailableNow`` and the pass waits for it to finish. The
``olap_sql`` set (q01, j1, w1, ds4, ds5, q09, j18, j20) is left out:
its CPU cost kept falling for seven or more passes as the JIT compiled,
too slowly to measure steadily in a run's time.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "mq_stateful",
            "stateful stream drain (mapInPandas plus per-user applyInPandasWithState over 4 micro-batches) where per-trigger state work dominates",
            ("s21_stream_ewma",),
        ),
        Workload(
            "curation_kernels",
            "Arrow/numpy mapInPandas kernels, shuffles and driver collects over documents, embeddings and baskets",
            (
                "l2b_ngram_jaccard",
                "a18_copurchase_rules",
                "u2_pandas_udf",
                "l3_cosine_topk",
                "ts7_ewma_smooth",
                "a5c_quantile_rollup",
            ),
        ),
    )
}
