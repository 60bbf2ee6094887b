"""SparkSession factory tuned for this engine.

Scale notes (100 TB target): everything here is per-session config that
holds on a real cluster — AQE for runtime coalescing/skew handling, Arrow
for the Python boundary, UTC session time so results are zone-stable
across engines. Only ``local[...]`` master + small shuffle-partition
defaults are local-test artifacts; on a cluster the caller overrides
``master`` and sizes ``spark.sql.shuffle.partitions`` to ~2-3× total
cores (or leaves AQE's coalescing to shrink an intentionally high value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Config every session gets, cluster or local. AQE is the load-bearing
# piece at scale: runtime partition coalescing, skew-join splitting and
# broadcast demotion replace hand-tuned per-query shuffle sizing.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Files: pack many small fixture files per task; at 100 TB the same
    # knob bounds scan-task input (default 128m is right for parquet).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Streaming tests replay finite file sources; keep micro-batches lean.
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    # Some fixture generations store events.ts as INT64 TIMESTAMP(NANOS),
    # which Spark 4 refuses to read as TimestampType (PARQUET_TYPE_ILLEGAL).
    # This conf makes that shape scan as a raw ns-epoch long instead;
    # tables.load_table then normalizes it (and the µs-NTZ shape newer
    # generations use) to a µs TimestampType column. Harmless when the
    # data carries no nanos columns.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Externally-built sessions (the driver harness) default to 200
    # shuffle partitions — pure task overhead at test scale, and
    # stateful streaming disables AQE so nothing coalesces them. On a
    # real cluster the deployer overrides this to ~2-3× total cores.
    "spark.sql.shuffle.partitions": "32",
    # Python workers fork from pydaemon, which stops every task from
    # re-reading pyspark.zip's directory (~0.25 CPU-s per task on
    # CPython < 3.13). Static: read once, when the SparkContext starts.
    "spark.python.daemon.module": "sparkstreaming_mq_spark.pydaemon",
}

# Subset of ENGINE_CONF that is runtime-settable on an existing session —
# needed because the driver harness passes us ITS SparkSession, built
# without our builder. Excludes spark.sql.shuffle.partitions: that knob is
# sized per-caller (builder arg, conftest, check_oracle) and re-applying it
# on every load_table would silently undo those choices. Excludes
# spark.python.daemon.module: a static core conf, so setting it would be
# a failing py4j round-trip on every load_table. Sessions built outside
# get_spark therefore run the stock pyspark.daemon.
RUNTIME_CONF: dict[str, str] = {
    k: v
    for k, v in ENGINE_CONF.items()
    if k not in ("spark.sql.shuffle.partitions", "spark.python.daemon.module")
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic SQL conf to an externally-built session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on this build — keep going
            pass
    return spark


def get_spark(
    app_name: str = "sparkstreaming-mq-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine defaults.

    ``SPARK_GRAFT_CPUS`` sets local parallelism (driver contract);
    defaults to all cores. Shuffle partitions default to the local core
    count — the right size for sf≤0.1 single-node runs, and AQE coalesces
    further when partitions come out small.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if master.startswith("local"):
        # the worker daemon imports this package from any driver cwd and
        # before any pyFile is shipped; cluster executors need it installed
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config("spark.executorEnv.PYTHONPATH", root)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
