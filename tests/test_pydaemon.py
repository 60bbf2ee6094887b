"""The engine's Python worker daemon (``sparkstreaming_mq_spark.pydaemon``)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from sparkstreaming_mq_spark import pydaemon

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
