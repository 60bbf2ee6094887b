"""Python worker daemon: ``pyspark.daemon`` on the installed, byte-compiled
pyspark, with lazy zipimport invalidation.

Spark puts ``pyspark.zip``, ``py4j-*-src.zip`` and the ``spark-core`` jar
first on every worker's ``sys.path``. The zip holds ~1,170 ``.py`` files
and no bytecode, so each session's daemon and first worker compile pyspark
from source again (~1.3 CPU-s of imports against ~0.6 from site-packages).
When an installed pyspark and py4j are importable and declare the same
``__version__`` as those zips, ``prefer_installed_pyspark`` drops Spark's
three entries before anything imports pyspark, and the workers run the
byte-compiled package the driver already runs. Otherwise the path keeps
Spark's order. This module must therefore be importable without pyspark:
the package ``__init__`` exports its API lazily.

Every Python task runs ``setup_spark_files`` -> ``importlib.invalidate_caches()``,
even on a reused worker. Before CPython 3.13, which made this lazy, that
makes each cached ``zipimporter`` re-read its archive's central directory: ~16
importers over ``pyspark.zip``'s 1328 entries, ~0.25 CPU-s per task. Here
an importer re-reads only when its archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since it last read it, so a rewritten zip (Spark's own,
or one shipped with ``addPyFile``) is still picked up. Selected by
``spark.python.daemon.module`` (``session.ENGINE_CONF``); the forked
workers inherit the patch and the path.

After each task on a reused worker, ``pyspark.daemon`` runs a full
``gc.collect()``. Without help that walks every object the worker imported
(~75k, nearly all pandas/pyarrow), 30-45 ms per task. The daemon therefore
imports the modules every Arrow task needs (``PRELOAD``) and freezes its heap
before it forks: workers inherit the frozen generation, and each collect
walks only the objects created after the fork.
"""

from __future__ import annotations

import fnmatch
import gc
import importlib
import importlib.machinery
import os
import re
import sys
import zipimport

# Imported by every Arrow task anyway. A module a worker imports after the
# fork is re-walked by every task's collect; engine modules stay out.
PRELOAD = ("pandas", "pyarrow", "pyspark.sql.pandas.serializers")

# Basenames of the sys.path entries Spark puts in front of a worker's path.
SPARK_ENTRIES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")

# ``__version__ = "4.1.2"`` or ``__version__: str = '4.1.2'``
_VERSION = re.compile(r"""^__version__\b[^=\n]*=\s*["']([^"']+)["']""", re.M)

_eager_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _lazy_invalidate_caches(self):
    """Re-read the archive only if it changed since this importer last read it."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:  # archive gone: let the eager path clear the cache
        key = None
    if key is None or key != getattr(self, "_read_stat", None):
        _eager_invalidate_caches(self)
        self._read_stat = key


def install() -> None:
    """Patch zipimporter in this process; CPython 3.13+ is lazy already."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches


def _declared_version(package: str, path: list[str]) -> str | None:
    """The ``__version__`` that ``<package>/version.py``, in the first
    entry of ``path`` holding ``package``, assigns; read, not imported.
    None when no entry holds the package or it declares no version."""
    spec = importlib.machinery.PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    name = f"{package}.version"
    vspec = importlib.machinery.PathFinder.find_spec(name, list(spec.submodule_search_locations))
    try:
        source = vspec.loader.get_source(name)
    except (AttributeError, ImportError, OSError):
        return None
    match = _VERSION.search(source or "")
    return match.group(1) if match else None


def prefer_installed_pyspark(path: list[str]) -> list[str]:
    """``path`` without Spark's entries (``SPARK_ENTRIES``) when the rest
    of it holds a pyspark and a py4j whose ``__version__`` equals that of
    Spark's zips; otherwise ``path`` unchanged."""
    def spark_entry(p):
        return any(fnmatch.fnmatch(os.path.basename(p), pat) for pat in SPARK_ENTRIES)

    spark, rest = [p for p in path if spark_entry(p)], [p for p in path if not spark_entry(p)]
    for package in ("pyspark", "py4j"):
        zipped = _declared_version(package, spark)
        if zipped is None or _declared_version(package, rest) != zipped:
            return path
    return rest


if __name__ == "__main__":
    sys.path[:] = prefer_installed_pyspark(sys.path)
    install()
    from pyspark.daemon import manager

    for name in PRELOAD:
        importlib.import_module(name)
    gc.freeze()
    manager()
