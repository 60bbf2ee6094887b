"""Fixture-table catalog (schemas documented in FIXTURES.md).

Tables are the driver-generated TPC-H-ish star schema plus an ``events``
stream table and the LLM-pipeline ``documents``/``embeddings`` tables
(/root/repo/TESTDATA.md:13-15). All access is columnar parquet scans so
Catalyst gets predicate pushdown + column pruning for free.

``load_table`` caches each table's inferred schema, never a DataFrame:
a plain ``spark.read.parquet`` starts a Spark job on every call only to
read a footer.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sparkstreaming_mq_spark.session import apply_runtime_conf

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that are always safe to broadcast in joins —
# bounded cardinality regardless of scale factor (region=5, nation=25)
# or growing far slower than the fact tables.
BROADCASTABLE: frozenset[str] = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def cache_key(sf_dir: str, name: str) -> str:
    """Key for /tmp materializations derived from one fixture table.

    Folds the source file's mtime+size into the key: the driver harness
    regenerates /root/testdata between rounds, and a cache keyed only by
    scale factor would silently serve last round's rows.
    """
    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    try:
        st = os.stat(table_path(sf_dir, name))
        return f"{base}_{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        # Un-fingerprinted keys must never collide with a prior run's
        # cache (a transiently-unstatable source would otherwise serve
        # last generation's rows) — salt with the process id so the
        # fallback only ever reuses material this process built.
        return f"{base}_nofp_{os.getpid()}"


_ROWCOUNT_CACHE: dict[str, int] = {}


def table_rowcount(sf_dir: str, name: str) -> int:
    """Row count of a fixture table from the parquet FOOTER — zero data
    scan. Cost-based operators (l2/l2b strategy switch) need the corpus
    size before planning; paying a full `df.count()` action per
    invocation is a whole extra scan at 100 TB (on a real catalog this
    is table statistics; on raw parquet it is footer metadata).
    Cached per fixture generation (cache_key folds mtime+size, so a
    regenerated fixture never serves a stale count)."""
    key = f"{cache_key(sf_dir, name)}_{name}"
    if key not in _ROWCOUNT_CACHE:
        import pyarrow.parquet as pq

        path = table_path(sf_dir, name)
        if os.path.isdir(path):
            # multi-file dataset (e.g. the scale-smoke's Spark writes):
            # still footer-only — sum the part-file metadata
            _ROWCOUNT_CACHE[key] = sum(
                pq.ParquetFile(p).metadata.num_rows
                for p in glob.glob(os.path.join(path, "*.parquet"))
            )
        else:
            _ROWCOUNT_CACHE[key] = pq.ParquetFile(path).metadata.num_rows
    return _ROWCOUNT_CACHE[key]


# Session confs that change the schema Spark infers from a parquet file.
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple:
    path = os.path.abspath(path)
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    stats = tuple((f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)])
    return (path, stats, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table.

    The first read of a table infers its schema as Spark does (a
    one-task job reading a footer); later reads pass that ``StructType``
    and start no job. The cache is keyed by the path, the mtime and size
    of the file (or of each part file) and, read after
    ``apply_runtime_conf``, the confs that shape inference, so a
    rewritten table or a session that infers differently is inferred
    again. Each call still builds a new DataFrame: a shared one would
    give two loads of a table the same attribute ids, and a self-join of
    them could not tell its sides apart.

    ``events.ts`` is normalized to a µs session-zone ``TimestampType``
    regardless of the fixture generation's physical encoding — observed
    shapes across driver rounds: INT64 TIMESTAMP(NANOS) (scans as a
    ns-epoch long under ``spark.sql.legacy.parquet.nanosAsLong``) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (scans as TIMESTAMP_NTZ).
    The session time zone is UTC, so the NTZ→LTZ cast is value-preserving
    and both shapes produce identical downstream results.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    apply_runtime_conf(spark)
    path = table_path(sf_dir, name)
    key = _schema_key(spark, path)
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    df = spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer division: ns-epoch longs (~1.7e18) exceed double's
            # 2^53 exact range, so a float `/ 1000` round-trip can be off
            # by ~1 µs and flip date_trunc boundaries vs DuckDB's ns values.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # UTC session: same instant, but a plain TIMESTAMP column is
            # castable to epoch seconds and matches the ns-era shape that
            # every consumer (and the replay cache schema) expects.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table_arrow(sf_dir: str, name: str):
    """``load_table``'s twin for driver-side builders: one fixture table
    (a single file or a directory of part files) as a ``pyarrow.Table``,
    with ``events.ts`` shaped by the same rule — a µs UTC timestamp,
    ns-precision stamps divided by 1000 with truncation exactly as
    ``ts div 1000`` does, NTZ stamps relabelled as UTC instants."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    t = ds.dataset(table_path(sf_dir, name), format="parquet").to_table()
    t = t.replace_schema_metadata(None)
    if name == "events":
        ts = t.column("ts")
        if ts.type.unit == "ns":
            ts = pc.divide(ts.cast(pa.int64()), 1000)
        i = t.schema.get_field_index("ts")
        t = t.set_column(i, "ts", ts.cast(pa.timestamp("us", tz="UTC")))
    return t


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each fixture table as a temp view for spark.sql queries."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
