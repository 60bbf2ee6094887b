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

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

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


# Hadoop's local FileContext starts a process per checkpoint file when
# native libhadoop is absent (chmod on create/mkdir, readlink on rename);
# NioLocalFs does the same file operations in-process. Local masters
# only: the class must be on the driver JVM's classpath, and a session
# built without it must never carry this key (ClassNotFoundException on
# every checkpoint), which is why it is absent from ENGINE_CONF.
NIO_LOCAL_FS_KEY = "spark.hadoop.fs.AbstractFileSystem.file.impl"
NIO_LOCAL_FS_CLASS = "sparkstreaming_mq_spark.jvm.NioLocalFs"
_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")


@functools.lru_cache(maxsize=None)
def nio_local_fs_jar() -> str | None:
    """Path of the compiled NioLocalFs jar, built once per source hash
    into ``jvm/.build``; None (after one warning) when it cannot be
    built, and the session keeps Hadoop's stock LocalFs."""
    src = os.path.join(_JVM_DIR, "NioLocalFs.java")
    with open(src, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    jar = os.path.join(_JVM_DIR, ".build", f"NioLocalFs-{digest}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        log.warning("javac not found: streaming checkpoints use Hadoop's stock LocalFs")
        return None
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars", "*")
    try:
        os.makedirs(os.path.dirname(jar), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.dirname(jar)) as out:
            subprocess.run(
                [javac, "-J-XX:TieredStopAtLevel=1", "--release", "17", "-nowarn",
                 "-cp", jars, "-d", out, src],
                check=True, capture_output=True, text=True,
            )
            tmp = os.path.join(out, "classes.jar")
            with zipfile.ZipFile(tmp, "w") as z:
                for cls in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
                    z.write(cls, os.path.relpath(cls, out))
            os.replace(tmp, jar)  # atomic; concurrent compiles write the same bytes
    except (OSError, subprocess.CalledProcessError) as e:
        log.warning(
            "NioLocalFs not built (%s): streaming checkpoints use Hadoop's stock LocalFs",
            getattr(e, "stderr", None) or e,
        )
        return None
    return jar


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
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # the worker daemon imports this package from any driver cwd and
        # before any pyFile is shipped; cluster executors need it installed
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config("spark.executorEnv.PYTHONPATH", root)
        # local executors share the driver JVM and its classpath
        jar = nio_local_fs_jar()
        if jar is not None:
            builder = builder.config(NIO_LOCAL_FS_KEY, NIO_LOCAL_FS_CLASS)
            cp = conf.get("spark.driver.extraClassPath")
            conf["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, (cp, jar)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
