"""sparkstreaming_mq_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ``xiaofeicn/sparkStreaming-mq`` (pinned at /root/reference; the
v0 snapshot contains only ``.gitignore:1-2``, so the capability surface is
defined by SURVEY.md §2: the Spark-Streaming-over-message-queue archetype
plus the relational/scalar layer and LLM-data-pipeline operators).

Design: DataFrame/SQL-first so Catalyst + Tungsten + AQE plan execution;
Structured Streaming for unbounded inputs; Pandas UDFs only where built-in
operators cannot express the semantics.
"""

import importlib

# The public API, imported on first use (PEP 562): the Python worker daemon
# (``python -m sparkstreaming_mq_spark.pydaemon``) imports this package
# first and must choose which pyspark to import before anything does.
_EXPORTS = {
    "get_spark": "session",
    "TABLES": "tables",
    "load_table": "tables",
    "register_views": "tables",
}

__all__ = list(_EXPORTS)
__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value
