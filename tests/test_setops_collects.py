"""The exact-ntile family (``operators/setops.py``) collects its
per-partition counts unsorted and sorts them on the driver: one row
per partition (per group in ``exact_ntile_grouped``), so a Spark sort
would only add its range-sample and sort-exchange jobs."""

from __future__ import annotations

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.session import python_warm_up


@pytest.mark.parametrize(
    "name",
    ["o16_global_rownum", "a16_equidepth_histogram", "l41_perplexity_buckets"],
)
def test_each_count_collect_starts_only_its_own_jobs(spark, sf_dir, count_jobs, monkeypatch, name):
    """Building the query collects once, and that collect starts two
    jobs: AQE's shuffle stage of the count and the result."""
    python_warm_up()  # its collect would be counted too
    collect = DataFrame.collect
    jobs = []

    def counted(df):
        n, rows = count_jobs(lambda: collect(df))
        jobs.append(n)
        return rows

    monkeypatch.setattr(DataFrame, "collect", counted)
    registry.all_queries()[name](spark, sf_dir)
    assert jobs == [2]
