"""SparkSession factory tuned for this engine.

Scale notes (100 TB target): everything here is per-session config that
holds on a real cluster — AQE for runtime coalescing/skew handling, Arrow
for the Python boundary, UTC session time so results are zone-stable
across engines. Only ``local[...]`` master + small shuffle-partition
defaults are local-test artifacts; on a cluster the caller overrides
``master`` and sizes ``spark.sql.shuffle.partitions`` to ~2-3× total
cores (or leaves AQE's coalescing to shrink an intentionally high value).

Local masters also get two build-once JVM artifacts, both content-keyed
in one per-user cache directory (``$XDG_CACHE_HOME``, default
``~/.cache``, then ``sparkstreaming_mq_spark/jvm/``; delete it to
rebuild both). They live outside the checkout because the jar's path is
part of the archive's classpath check: a fresh clone of the same commit
maps the archive on its first session.

- ``NioLocalFs-<source hash>.jar``, the checkpoints' in-process
  ``file:`` FileContext (see ``nio_local_fs_jar``);
- ``<key>.jsa``, a HotSpot class-data-sharing (CDS) archive of the
  ~17k classes a session loads, keyed by the JDK, the Spark jars and the
  driver classpath. The first session of a key records the classes its
  JVM loads (``-XX:DumpLoadedClassList``, free at run time) and, at
  Python exit, waits while a second JVM dumps them into a static archive
  (``-Xshare:dump``, 40-60 s on 4 vCPUs; see ``_dump_archive``); later
  sessions map it with ``-XX:SharedArchiveFile`` and skip loading,
  parsing and verifying those classes (perfbench ``mq_stateful`` set-up
  median 17.1 -> 11.8 s on 4 vCPUs). JDK 17 refuses non-empty classpath
  directories, so ``SPARK_CONF_DIR`` points at an empty directory while
  the JVM starts, and only when it is unset and ``$SPARK_HOME/conf``
  holds nothing but ``*.template`` files.

Python workers fork from ``pydaemon`` (``spark.python.daemon.module``),
which imports the installed, byte-compiled pyspark instead of Spark's
source-only ``pyspark.zip`` when their versions match. On local masters a
new session also starts that daemon in the background: one 1-row
``mapInPandas`` job (``python_warm_up``), so the ~1.5 s daemon start and
the first worker's fork overlap the caller's set-up instead of its first
Python query (a 1-row Python job 4 s after start: 2.4 s with neither
change, 0.2-0.3 s with both, on 4 vCPUs). Sessions built outside
``get_spark`` keep the stock daemon and get no warm-up.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import glob
import hashlib
import logging
import os
import shutil
import struct
import subprocess
import tempfile
import threading
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
def jvm_cache_dir() -> str | None:
    """The per-user directory of the jar and the CDS archive, created on
    first use; None (after one warning) when it is not writable, and
    sessions run with neither."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    path = os.path.join(base, "sparkstreaming_mq_spark", "jvm")
    try:
        os.makedirs(path, exist_ok=True)
        if not os.access(path, os.W_OK | os.X_OK):
            raise PermissionError(f"{path} is not writable")
    except OSError as e:
        log.warning("JVM cache directory unusable (%s): no NioLocalFs, no CDS archive", e)
        return None
    return path


@functools.lru_cache(maxsize=None)
def nio_local_fs_jar() -> str | None:
    """Path of the compiled NioLocalFs jar, built once per source hash
    into ``jvm_cache_dir()``; None (after one warning) when it cannot be
    built, and the session keeps Hadoop's stock LocalFs."""
    src = os.path.join(_JVM_DIR, "NioLocalFs.java")
    with open(src, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    cache = jvm_cache_dir()
    if cache is None:
        return None
    jar = os.path.join(cache, f"NioLocalFs-{digest}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        log.warning("javac not found: streaming checkpoints use Hadoop's stock LocalFs")
        return None
    jars = os.path.join(_find_spark_home(), "jars", "*")
    try:
        with tempfile.TemporaryDirectory(dir=cache) as out:
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


# Caller JVM options that already decide class-data sharing; CDS is
# then left to them.
_CDS_OPTIONS = (
    "-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "SharedClassListFile", "DumpLoadedClassList",
)
# A JVM prints "[warning][cds]" lines to its stdout, which is the Python
# driver's (bench.py --one parses it).
_CDS_QUIET = "-Xlog:cds=off"
# Options of the recording JVM that its archive dump leaves out: its own
# class-list flag, log files it would overwrite, agents, and system
# properties (none of which the archive depends on).
_NOT_FOR_DUMP = ("-XX:DumpLoadedClassList", "-Xlog", "-D", "-agent", "-javaagent")
# A dump of ~17k classes takes 40-60 s on 4 vCPUs; past this the exit
# hook gives up, kills the JVM and drops the partial file.
_DUMP_TIMEOUT_S = 300


def _archive_key(java: str, spark_home: str, class_path: list[str]) -> str:
    """Hash of what an archive is only valid for: the JDK build, the
    Spark jars (names, sizes, mtimes) and the ordered driver classpath.
    The JVM re-checks the classpath when it maps the file and silently
    runs without it on a mismatch."""
    h = hashlib.sha256()
    version = subprocess.run([java, "-version"], capture_output=True, text=True, check=True)
    h.update(version.stderr.encode())
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update("\0".join(class_path).encode())
    return h.hexdigest()[:16]


def _archive_intact(jsa: str) -> bool:
    """False when the archive is shorter than its header says. The JVM
    maps the file before it checks anything else and dies of SIGBUS on
    the first missing page, so a truncated archive must never reach it.
    The header is read in JDK 17's layout (static-archive magic, header
    version 11, seven 72-byte regions from byte 16 with the file offset
    at +24 and the size at +40); any other version is trusted as the JVM
    wrote it."""
    with open(jsa, "rb") as f:
        head = f.read(16 + 7 * 72)
        size = os.fstat(f.fileno()).st_size
    if len(head) < 16 or struct.unpack_from("<I", head)[0] != 0xF00BABA2:
        return False
    if struct.unpack_from("<i", head, 8)[0] != 11:
        return True
    if len(head) < 16 + 7 * 72:
        return False
    regions = (struct.unpack_from("<QxxxxxxxxQ", head, 16 + 72 * i + 24) for i in range(7))
    return all(offset + used <= size for offset, used in regions)


def _live_recordings(cache: str, key: str) -> list[str]:
    """Class lists ``<key>.<pid>.classlist`` of sessions still running.
    Deletes the class lists and ``<key>.<pid>.tmp`` dumps of every key
    whose session is gone: a session killed while it recorded or dumped
    never cleans up."""
    live = []
    for path in glob.glob(os.path.join(cache, "*.*.classlist")) + glob.glob(os.path.join(cache, "*.*.tmp")):
        try:
            os.kill(int(path.rsplit(".", 2)[1]), 0)
        except ProcessLookupError:
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
            continue
        except (ValueError, PermissionError):  # not ours, or alive under another user
            pass
        if os.path.basename(path).startswith(f"{key}."):
            live.append(path)
    return live


def _cds_plan(conf: dict[str, str]) -> tuple[str, str, str | None, str] | None:
    """``(java options, empty conf dir, class-list path or None, java)``
    that put a local driver JVM on the class-data-sharing archive of its
    key, or record the classes it loads when there is none yet; None when
    this session runs without CDS."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the driver JVM is already running
    if "SPARK_CONF_DIR" in os.environ:
        return None
    if any(o in conf.get("spark.driver.extraJavaOptions", "") for o in _CDS_OPTIONS):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
        return None  # Spark reads it: it must stay the conf dir
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    cache = jvm_cache_dir()
    if cache is None or java is None:
        return None
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, exist_ok=True)
    class_path = conf.get("spark.driver.extraClassPath", "").split(os.pathsep)
    key = _archive_key(java, spark_home, [*class_path, empty, os.path.join(spark_home, "jars", "*")])
    jsa = os.path.join(cache, f"{key}.jsa")
    if os.path.exists(jsa):
        if _archive_intact(jsa):
            return f"-XX:SharedArchiveFile={jsa} {_CDS_QUIET}", empty, None, java
        log.warning("CDS archive %s is truncated or not a static archive: a session writes it again", jsa)
        with contextlib.suppress(FileNotFoundError):
            os.remove(jsa)
    if _live_recordings(cache, key):
        return None  # one session at a time records and dumps a key
    classlist = os.path.join(cache, f"{key}.{os.getpid()}.classlist")
    return f"-XX:DumpLoadedClassList={classlist} {_CDS_QUIET}", empty, classlist, java


def _wait(proc: subprocess.Popen) -> int:
    try:
        return proc.wait(timeout=_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return -9


def _dump_archive(
    proc: subprocess.Popen, java: str, jvm_args: list[str], class_path: str, classlist: str
) -> None:
    """At Python exit: end the driver JVM (``PythonGatewayServer`` exits
    when its stdin closes) so that its class list is complete, dump a
    static archive of those classes with the same JVM options and
    classpath, publish it as ``<key>.jsa`` and delete other keys'
    archives. Dumping in a JVM of its own, after the session, keeps the
    recording session as fast as one without CDS: a JVM started with
    ``-XX:ArchiveClassesAtExit`` instead loads every class ~60 % slower
    for its whole life. The wait matters because a caller may kill the
    process group as soon as Python is gone."""
    cache = os.path.dirname(classlist)
    tmp = classlist.removesuffix(".classlist") + ".tmp"
    try:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        if _wait(proc) != 0:
            return
        dump = subprocess.Popen(
            [java, *(a for a in jvm_args if not a.startswith(_NOT_FOR_DUMP)), "-Xshare:dump",
             f"-XX:SharedClassListFile={classlist}", f"-XX:SharedArchiveFile={tmp}", "-cp", class_path],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        if _wait(dump) != 0:
            return
        jsa = os.path.join(cache, os.path.basename(classlist).split(".", 1)[0] + ".jsa")
        os.replace(tmp, jsa)
        for other in glob.glob(os.path.join(cache, "*.jsa")):
            if other != jsa:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(other)
    finally:
        for path in (classlist, tmp):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)


# Job group and description of the warm-up job (``python_warm_up``).
WARM_UP_JOB = "sparkstreaming_mq_spark: start the Python worker daemon"
_warm_up: threading.Thread | None = None


def python_warm_up(spark: SparkSession | None = None) -> None:
    """Own the Python-worker warm-up of a local ``get_spark`` session.

    With ``spark``: start a daemon thread that runs one 1-row identity
    ``mapInPandas`` job under the job group and description
    ``WARM_UP_JOB``, so that Spark starts the worker daemon (~1.5 s) and
    forks the first worker while the caller is still planning its first
    query. The thread swallows every error: a session stopped mid-way
    just ends it. Without ``spark``: wait until that thread is done
    (return at once when none ran). Anything that diffs application-wide
    job, stage or codegen counters calls this first, or it counts the
    warm-up's job as its own."""
    global _warm_up
    if spark is None:
        if _warm_up is not None:
            _warm_up.join()
        return

    def run():
        try:
            spark.sparkContext.setJobGroup(WARM_UP_JOB, WARM_UP_JOB)
            spark.range(1, numPartitions=1).mapInPandas(lambda batches: batches, "id long").collect()
        except Exception:  # the session may stop at any point
            pass

    _warm_up = threading.Thread(target=run, name="python-warm-up", daemon=True)
    _warm_up.start()


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
        cds = _cds_plan(conf)
    else:
        cds = None
    if cds is not None:
        opts = conf.get("spark.driver.extraJavaOptions")
        conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, (opts, cds[0])))
    for k, v in conf.items():
        builder = builder.config(k, v)
    new_context = SparkContext._active_spark_context is None
    if cds is None:
        spark = builder.getOrCreate()
    else:
        _, empty_conf_dir, classlist, java = cds
        os.environ["SPARK_CONF_DIR"] = empty_conf_dir  # read by the launcher only
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        proc = getattr(SparkContext._gateway, "proc", None)
        if classlist is not None and proc is not None:
            jvm = SparkContext._jvm
            args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
            atexit.register(_dump_archive, proc, java, args, jvm.System.getProperty("java.class.path"), classlist)
    if new_context and master.startswith("local"):
        python_warm_up(spark)
    return spark
