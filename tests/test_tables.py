"""``tables.load_table`` infers a fixture table's schema once per
process and reads it back with that schema: a second load starts no
Spark job, returns what an inferring read returns, and a rewritten file
or a session that infers differently is inferred again."""

from __future__ import annotations

import pytest
from test_replay_chunks import write_events

from sparkstreaming_mq_spark import tables
from sparkstreaming_mq_spark.tables import TABLES, load_table, table_path

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _rows(df):
    return sorted(repr(r) for r in df.collect())


@pytest.mark.parametrize("name", TABLES)
def test_second_load_starts_no_job_and_equals_inferring_read(
    spark, sf_dir, count_jobs, monkeypatch, name
):
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    inferring, first = count_jobs(lambda: load_table(spark, sf_dir, name))
    cached, second = count_jobs(lambda: load_table(spark, sf_dir, name))
    assert (inferring, cached) == (1, 0)
    (schema,) = tables._SCHEMA_CACHE.values()
    assert schema == spark.read.parquet(table_path(sf_dir, name)).schema
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)


def test_rewritten_events_are_inferred_again(spark, sf_dir, tmp_path, count_jobs):
    """The same path in the other ts encoding (INT64 NANOS, MICROS NTZ)
    has another mtime and size, so its schema is inferred again."""
    d = str(tmp_path)
    want = None
    for shape in ("ns", "us_ntz", "ns"):
        write_events(sf_dir, d, shape)
        jobs, df = count_jobs(lambda: load_table(spark, d, "events"))
        assert jobs == 1, shape
        path = table_path(d, "events")
        cached = tables._SCHEMA_CACHE[tables._schema_key(spark, path)]
        assert cached == spark.read.parquet(path).schema, shape
        # ns stamps carry sub-µs digits that load_table truncates away
        got = _rows(df)
        assert want is None or got == want, shape
        want = got


def test_other_nanos_as_long_never_gets_the_cached_schema(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Under nanosAsLong=true a NANOS column infers as a long; a session
    with it false must infer for itself, and fail as Spark 4 does,
    rather than read the file with the other value's schema."""
    write_events(sf_dir, str(tmp_path), "ns")
    path = table_path(str(tmp_path), "events")
    real_apply = tables.apply_runtime_conf
    nanos_as_long = "true"

    def apply(s):
        real_apply(s)
        s.conf.set(NANOS_AS_LONG, nanos_as_long)

    monkeypatch.setattr(tables, "apply_runtime_conf", apply)
    try:
        n = load_table(spark, str(tmp_path), "events").count()
        nanos_as_long = "false"
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "events")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)  # what an inferring read under false does
        nanos_as_long = "true"
        assert load_table(spark, str(tmp_path), "events").count() == n
    finally:
        real_apply(spark)
