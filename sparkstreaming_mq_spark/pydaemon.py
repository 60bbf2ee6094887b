"""Python worker daemon: ``pyspark.daemon`` with lazy zipimport invalidation.

Every Python task runs ``setup_spark_files`` -> ``importlib.invalidate_caches()``,
even on a reused worker. Before CPython 3.13, which made this lazy, that
makes each cached ``zipimporter`` re-read its archive's central directory: ~16
importers over ``pyspark.zip``'s 1328 entries, ~0.25 CPU-s per task. Here
an importer re-reads only when its archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since it last read it, so a rewritten zip is still
picked up. Selected by ``spark.python.daemon.module`` (``session.ENGINE_CONF``);
the forked workers inherit the patch.

After each task on a reused worker, ``pyspark.daemon`` runs a full
``gc.collect()``. Without help that walks every object the worker imported
(~75k, nearly all pandas/pyarrow), 30-45 ms per task. The daemon therefore
imports the modules every Arrow task needs (``PRELOAD``) and freezes its heap
before it forks: workers inherit the frozen generation, and each collect
walks only the objects created after the fork.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

# Imported by every Arrow task anyway. A module a worker imports after the
# fork is re-walked by every task's collect; engine modules stay out.
PRELOAD = ("pandas", "pyarrow", "pyspark.sql.pandas.serializers")

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


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    for name in PRELOAD:
        importlib.import_module(name)
    gc.freeze()
    manager()
