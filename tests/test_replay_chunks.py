"""The stream replay chunks (``streaming/sources._replay_chunks_dir``)
are built in the driver with Arrow; each chunk file must hold exactly
the rows a Spark ``ntile``/``pmod`` split gives it, in replay order."""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.streaming import sources as S
from sparkstreaming_mq_spark.tables import cache_key, load_table, load_table_arrow


def _chunk_files(base: str) -> list[str]:
    chunks = sorted(glob.glob(os.path.join(base, "chunk_*")))
    files = [glob.glob(os.path.join(c, "*.parquet")) for c in chunks]
    assert all(len(f) == 1 for f in files), files
    return [f[0] for f in files]


def _assert_chunks_match(spark, base, schema, ref, label, n, order_cols):
    files = _chunk_files(base)
    assert len(files) == n
    mtimes = [os.stat(f).st_mtime for f in files]
    assert mtimes == sorted(set(mtimes)), mtimes
    ref = ref.withColumn("__k", label)
    for k, f in enumerate(files):
        want = ref.filter(F.col("__k") == k).drop("__k").orderBy(*order_cols).collect()
        got = spark.read.schema(schema).parquet(f).collect()
        assert got == want, f"chunk {k}"


@pytest.mark.parametrize(
    "n,order", [(1, "time"), (2, "time"), (3, "time"), (4, "time"), (4, "hash")]
)
def test_event_chunks_equal_spark_split(spark, sf_dir, n, order):
    base = S.chunked_events_dir(sf_dir, n_chunks=n, order=order)
    if order == "time":
        label = F.ntile(n).over(Window.orderBy("ts", "event_id")) - 1
    else:
        label = F.pmod("event_id", F.lit(n))
    events = load_table(spark, sf_dir, "events")
    _assert_chunks_match(
        spark, base, S.EVENTS_STREAM_SCHEMA, events, label, n, ["ts", "event_id"]
    )


def test_docs_chunks_equal_spark_split(spark, sf_dir):
    S.read_docs_stream_chunked(spark, sf_dir, n_chunks=4)
    key = f"{cache_key(sf_dir, 'documents')}_4_docs_v{S._CACHE_VERSION}"
    base = os.path.join(tempfile.gettempdir(), "sparkgraft_replay", key)
    docs = load_table(spark, sf_dir, "documents")
    _assert_chunks_match(
        spark, base, S.DOCS_STREAM_SCHEMA, docs, F.pmod("doc_id", F.lit(4)), 4, ["doc_id"]
    )


def test_part_file_table_builds_same_chunks(sf_dir, tmp_path, monkeypatch):
    """An events table written as a directory of part files (the shape
    of Spark's writes) builds the same chunks as the single file."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    parts = tmp_path / "sf" / "events.parquet"
    parts.mkdir(parents=True)
    half = events.num_rows // 2
    pq.write_table(events.slice(half), parts / "part-00000.parquet")
    pq.write_table(events.slice(0, half), parts / "part-00001.parquet")
    (parts / "_SUCCESS").touch()
    single = [pq.read_table(f) for f in _chunk_files(S.chunked_events_dir(sf_dir))]
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    split = [pq.read_table(f) for f in _chunk_files(S.chunked_events_dir(str(parts.parent)))]
    assert len(split) == len(single) == 4
    assert all(a.equals(b) for a, b in zip(split, single))


def write_events(sf_dir, d, shape):
    """Write ``sf_dir``'s events to ``d/events.parquet`` with ``ts`` in
    one physical shape: ``ns`` INT64 TIMESTAMP(NANOS), ``us_ntz``
    TIMESTAMP(MICROS) NTZ or ``us_utc`` TIMESTAMP(MICROS) UTC."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    us = events.column("ts").cast(pa.int64()).to_numpy()
    if shape == "ns":
        # sub-µs digits, so the ns → µs truncation is exercised
        sub_us = events.column("event_id").to_numpy() % 1000
        ts = pa.array(us * 1000 + sub_us, pa.timestamp("ns"))
    elif shape == "us_ntz":
        ts = pa.array(us, pa.timestamp("us"))
    else:
        ts = pa.array(us, pa.timestamp("us", tz="UTC"))
    pq.write_table(
        events.set_column(events.schema.get_field_index("ts"), "ts", ts),
        os.path.join(d, "events.parquet"),
        version="2.6",
        coerce_timestamps=None,
    )


@pytest.mark.parametrize("shape", ["ns", "us_ntz", "us_utc"])
def test_arrow_ts_equals_load_table(spark, sf_dir, tmp_path, shape):
    """``load_table_arrow`` shapes ``events.ts`` exactly as
    ``load_table`` does, for each physical shape the fixture has been
    seen in: INT64 TIMESTAMP(NANOS), TIMESTAMP(MICROS) NTZ and UTC."""
    d = tmp_path / shape
    d.mkdir()
    write_events(sf_dir, d, shape)
    t = load_table_arrow(str(d), "events")
    got = dict(zip(t.column("event_id").to_pylist(), t.column("ts").cast(pa.int64()).to_pylist()))
    want = dict(
        load_table(spark, str(d), "events")
        .select("event_id", F.unix_micros("ts"))
        .toLocalIterator()
    )
    assert got == want
