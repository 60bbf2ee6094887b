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
    import zipimport
    import pandas as pd
    for _ in batches:
        pass
    fn = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({"src": [getattr(getattr(fn, "__code__", None), "co_filename", repr(fn))]})

spark = get_spark(app_name="pydaemon-test", shuffle_partitions=2)
src = spark.range(1, numPartitions=1).mapInPandas(probe, "src string").first()["src"]
print("WORKER_INVALIDATE", src, flush=True)
rows = registry.all_queries()["a18_copurchase_rules"](spark, sys.argv[2]).toPandas()
print("A18_ROWS", len(rows), flush=True)
"""


def test_session_workers_run_patched_daemon_from_any_cwd(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode == 0, out[-4000:]
    assert "ModuleNotFoundError" not in out
    src = next(
        line.split(" ", 1)[1]
        for line in proc.stdout.splitlines()
        if line.startswith("WORKER_INVALIDATE")
    )
    if sys.version_info < (3, 13):
        assert os.path.basename(src) == "pydaemon.py", src
    assert "A18_ROWS" in proc.stdout
