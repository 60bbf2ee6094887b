"""The engine's Python worker daemon (``sparkstreaming_mq_spark.pydaemon``)."""

from __future__ import annotations

import glob
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest
from pyspark.find_spark_home import _find_spark_home

from sparkstreaming_mq_spark import pydaemon, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def test_lazy_invalidation_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    eager = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", eager)
    pydaemon.install()
    if sys.version_info >= (3, 13):
        assert zipimport.zipimporter.invalidate_caches is eager
        return

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pydaemon_zmod_a.py": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pydaemon_zmod_a").X == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, {"pydaemon_zmod_a.py": "X = 1\n", "pydaemon_zmod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("pydaemon_zmod_b").Y == 2
    finally:
        for mod in ("pydaemon_zmod_a", "pydaemon_zmod_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)


# Driver started outside the repo: the package is importable only
# through its own sys.path entry, never through PYTHONPATH or the cwd.
_DRIVER = """
import os, sys
sys.path.insert(0, sys.argv[1])
from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.session import get_spark

def probe(batches):
    import gc
    import zipimport
    import pandas as pd
    for _ in batches:
        pass
    fn = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({
        "src": [getattr(getattr(fn, "__code__", None), "co_filename", repr(fn))],
        "frozen": [gc.get_freeze_count()],
        "live": [len(gc.get_objects())],
    })

spark = get_spark(app_name="pydaemon-test", shuffle_partitions=2)
row = spark.range(1, numPartitions=1).mapInPandas(
    probe, "src string, frozen long, live long"
).first()
print("WORKER_INVALIDATE", row["src"], flush=True)
print("WORKER_HEAP", row["frozen"], row["live"], flush=True)
rows = registry.all_queries()["a18_copurchase_rules"](spark, sys.argv[2]).toPandas()
print("A18_ROWS", len(rows), flush=True)
"""


def _run_driver(driver: str, cwd, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", driver, REPO, *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    return proc


def _tagged(proc: subprocess.CompletedProcess, tag: str) -> str:
    return next(
        line.split(" ", 1)[1]
        for line in proc.stdout.splitlines()
        if line.startswith(tag + " ")
    )


def test_session_workers_run_patched_daemon_from_any_cwd(tmp_path, sf_dir):
    proc = _run_driver(_DRIVER, tmp_path, sf_dir)
    assert "ModuleNotFoundError" not in proc.stdout + proc.stderr
    src = _tagged(proc, "WORKER_INVALIDATE")
    if sys.version_info < (3, 13):
        assert os.path.basename(src) == "pydaemon.py", src
    # the daemon froze its preloaded heap, so the per-task collect walks
    # only what the worker allocated after the fork
    frozen, live = map(int, _tagged(proc, "WORKER_HEAP").split())
    assert frozen > 0
    assert live * 5 < frozen, (frozen, live)
    assert "A18_ROWS" in proc.stdout


# Every task forks afresh from a daemon that imported pyarrow (jemalloc's
# background thread) on top of numpy's OpenBLAS threads.
_FORK_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
from sparkstreaming_mq_spark.session import get_spark

def double(batches):
    for b in batches:
        yield b.assign(y=b["id"] * 2)

spark = get_spark(
    app_name="pydaemon-fork-test",
    shuffle_partitions=2,
    extra_conf={"spark.python.worker.reuse": "false"},
)
rows = spark.range(64, numPartitions=32).mapInPandas(double, "id long, y long").collect()
print("FORK_ROWS", sorted((r["id"], r["y"]) for r in rows) == [(i, 2 * i) for i in range(64)])
"""


def test_unreused_workers_fork_cleanly_from_preloaded_daemon(tmp_path):
    proc = _run_driver(_FORK_DRIVER, tmp_path)
    assert _tagged(proc, "FORK_ROWS") == "True"
    for crash in ("Fatal Python error", "Segmentation fault", "exited unexpectedly", "Traceback"):
        assert crash not in proc.stderr, proc.stderr[-4000:]


SPARK_HOME = _find_spark_home()
SPARK_ZIP = os.path.join(SPARK_HOME, "python", "lib", "pyspark.zip")
# Spark's entries on a worker's sys.path, in Spark's order
SPARK_PATH = [
    SPARK_ZIP,
    *glob.glob(os.path.join(SPARK_HOME, "python", "lib", "py4j-*-src.zip")),
    *glob.glob(os.path.join(SPARK_HOME, "jars", "spark-core_*.jar")),
]


def _zip_version(package: str) -> str:
    archive = SPARK_ZIP if package == "pyspark" else SPARK_PATH[1]
    with zipfile.ZipFile(archive) as z:
        source = z.read(f"{package}/version.py").decode()
    return pydaemon._VERSION.search(source).group(1)


def _installed(root, **versions: str) -> str:
    """A site directory holding a stub of each package at its version."""
    for package, version in versions.items():
        (root / package).mkdir(parents=True)
        (root / package / "__init__.py").write_text("")
        (root / package / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(root)


@pytest.mark.parametrize(
    "pyspark_version,py4j_version,dropped",
    [
        ("zip", "zip", True),
        ("0.0.0", "zip", False),
        ("zip", "0.0.0", False),
        ("zip", None, False),
        (None, None, False),
    ],
)
def test_spark_entries_are_dropped_only_for_matching_installs(
    tmp_path, monkeypatch, pyspark_version, py4j_version, dropped
):
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    versions = {
        package: _zip_version(package) if version == "zip" else version
        for package, version in (("pyspark", pyspark_version), ("py4j", py4j_version))
        if version is not None
    }
    site = _installed(tmp_path / "site", **versions)
    stdlib = os.path.dirname(os.__file__)
    path = [str(tmp_path), *SPARK_PATH, REPO, site, stdlib]
    kept = pydaemon.prefer_installed_pyspark(path)
    assert kept == ([str(tmp_path), REPO, site, stdlib] if dropped else path)


def test_warm_up_starts_only_with_a_new_local_context(monkeypatch):
    started = []
    builder = SimpleNamespace(config=lambda k, v: builder, getOrCreate=lambda: "session")
    builder.appName = builder.master = lambda _: builder
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "_cds_plan", lambda conf: None)
    monkeypatch.setattr(session, "nio_local_fs_jar", lambda: None)
    monkeypatch.setattr(session, "python_warm_up", started.append)
    context = SimpleNamespace(_gateway=None, _active_spark_context=None)
    monkeypatch.setattr(session, "SparkContext", context)

    session.get_spark(master="spark://host:7077")
    assert started == []
    session.get_spark(master="local[2]")
    assert started == ["session"]
    context._active_spark_context = object()  # getOrCreate returns the running one
    session.get_spark(master="local[2]")
    assert started == ["session"]


# A get_spark session: measure right after it starts, then one Python
# task that reports where its pyspark came from. argv[2], if given, is
# put before the repo on the workers' PYTHONPATH.
_WARM_DRIVER = """
import os, sys
sys.path.insert(0, sys.argv[1])
sys.path.insert(0, os.path.join(sys.argv[1], "scripts"))
from spark_metrics import measure
from sparkstreaming_mq_spark.session import WARM_UP_JOB, get_spark

def probe(batches):
    import sys
    import pandas as pd
    import pyspark
    for _ in batches:
        pass
    yield pd.DataFrame({"file": [pyspark.__file__], "path": [os.pathsep.join(sys.path)]})

extra = {"spark.executorEnv.PYTHONPATH": os.pathsep.join([sys.argv[2], sys.argv[1]])} if len(sys.argv) > 2 else {}
spark = get_spark(app_name="pydaemon-warm-up-test", shuffle_partitions=2, extra_conf=extra)
# a Python run, so that it ends after the warm-up's task
rec = measure(spark, lambda: spark.range(3, numPartitions=1).mapInPandas(lambda b: b, "id long"))
print("MEASURED", rec["jobs"], rec["stages"], rec["tasks"], flush=True)
row = spark.range(1, numPartitions=1).mapInPandas(probe, "file string, path string").first()
print("WORKER_PYSPARK", row["file"], flush=True)
print("WORKER_PATH", row["path"], flush=True)
sc = spark.sparkContext
sc._jsc.sc().listenerBus().waitUntilEmpty()
print("WARM_UP_JOBS", len(sc.statusTracker().getJobIdsForGroup(WARM_UP_JOB)), flush=True)
"""


def test_session_workers_import_the_installed_pyspark(tmp_path):
    import py4j
    import pyspark

    proc = _run_driver(_WARM_DRIVER, tmp_path)
    worker_pyspark = _tagged(proc, "WORKER_PYSPARK")
    if (pyspark.__version__, py4j.__version__) == (_zip_version("pyspark"), _zip_version("py4j")):
        assert ".zip" + os.sep not in worker_pyspark, worker_pyspark
        assert not set(SPARK_PATH) & set(_tagged(proc, "WORKER_PATH").split(os.pathsep))
    else:
        assert worker_pyspark.startswith(SPARK_ZIP + os.sep), worker_pyspark
    # the warm-up job ran once, and measure waited for it: it reports the
    # run's one job, stage and task
    assert _tagged(proc, "WARM_UP_JOBS") == "1"
    assert _tagged(proc, "MEASURED") == "1 1 1"


def test_session_workers_keep_the_zip_first_for_another_installed_version(tmp_path):
    site = _installed(tmp_path / "site", pyspark="0.0.0", py4j=_zip_version("py4j"))
    proc = _run_driver(_WARM_DRIVER, tmp_path, site)
    assert _tagged(proc, "WORKER_PYSPARK").startswith(SPARK_ZIP + os.sep)
    path = _tagged(proc, "WORKER_PATH").split(os.pathsep)
    assert path.index(SPARK_ZIP) < path.index(site)
    assert _tagged(proc, "WARM_UP_JOBS") == "1"


def test_session_stopped_during_warm_up_exits_quietly(tmp_path):
    driver = (
        "import sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "from sparkstreaming_mq_spark.session import get_spark\n"
        "get_spark(app_name='pydaemon-stop-test', shuffle_partitions=2).stop()\n"
    )
    proc = _run_driver(driver, tmp_path)
    assert proc.stdout == ""
    assert "Traceback" not in proc.stderr, proc.stderr[-4000:]


# Built the way scripts/driver_sim.py builds the harness's session.
_HARNESS_DRIVER = """
import importlib.util, os, sys
sys.path.insert(0, sys.argv[1])
spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(sys.argv[1], "__spark_entry__.py"))
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
from pyspark.sql import SparkSession
from sparkstreaming_mq_spark.session import WARM_UP_JOB

spark = SparkSession.builder.master("local[2]").config("spark.sql.shuffle.partitions", "8").appName("pydaemon-harness-test").getOrCreate()
entry.entry(spark).collect()
entry.queries()["u2_pandas_udf"](spark, sys.argv[2]).collect()
sc = spark.sparkContext
sc._jsc.sc().listenerBus().waitUntilEmpty()
print("WARM_UP_JOBS", len(sc.statusTracker().getJobIdsForGroup(WARM_UP_JOB)), flush=True)
"""


def test_harness_session_runs_no_warm_up(tmp_path, sf_dir):
    proc = _run_driver(_HARNESS_DRIVER, tmp_path, sf_dir)
    assert _tagged(proc, "WARM_UP_JOBS") == "0"
