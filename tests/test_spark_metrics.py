"""scripts/spark_metrics.py is the one measured-run helper: every
profiling script times and attributes a query through ``measure``, and
nothing else reads the Spark REST status API."""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
sys.path.insert(0, SCRIPTS)

REST_PATH = "api/v1/" + "applications"  # split so this file does not match


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "perfbench"]
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def test_rest_metrics_are_read_only_in_spark_metrics():
    readers = {
        os.path.relpath(p, REPO) for p in _py_files() if REST_PATH in open(p).read()
    }
    assert readers == {os.path.join("scripts", "spark_metrics.py")}


def test_spark_metrics_imports_resolve():
    with open(os.path.join(SCRIPTS, "spark_metrics.py")) as f:
        tree = ast.parse(f.read())
    defined = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    defined |= {
        t.id for n in tree.body if isinstance(n, ast.Assign) for t in n.targets
    }
    imported = set()
    for name in os.listdir(SCRIPTS):
        if name.endswith(".py"):
            with open(os.path.join(SCRIPTS, name)) as f:
                for n in ast.walk(ast.parse(f.read())):
                    if isinstance(n, ast.ImportFrom) and n.module == "spark_metrics":
                        imported |= {a.name for a in n.names}
    assert imported, "no script imports spark_metrics"
    assert imported <= defined, imported - defined


def test_measure_counts_rows_and_new_stages(spark, sf_dir):
    from spark_metrics import measure

    from sparkstreaming_mq_spark import registry

    q = registry.all_queries()["q01_pricing_summary"]
    rec = measure(spark, lambda: q(spark, sf_dir))
    assert rec["rows"] == len(q(spark, sf_dir).collect()) > 0
    assert rec["stages"] >= 1
    assert rec["tasks"] > 0
    assert rec["wall_s"] > 0


def test_measure_counts_the_jobs_of_the_run(spark):
    """``jobs`` counts every Spark job the run started, also those the
    thunk ran while building its frame."""
    from spark_metrics import measure

    rec = measure(spark, lambda: (spark.range(5).collect(), spark.range(3))[1])
    assert rec["rows"] == 3
    assert rec["jobs"] == 2


def test_measure_runs_the_python_node(spark, sf_dir):
    """``df.count()`` prunes a pandas UDF's column and with it the
    ArrowEvalPython node; measure must time the registered program."""
    from spark_metrics import measure

    from sparkstreaming_mq_spark import registry

    rec = measure(spark, lambda: registry.all_queries()["u2_pandas_udf"](spark, sf_dir))
    assert "ArrowEvalPython" in rec["python_nodes"]


def test_measure_reports_the_stream_triggers(spark, sf_dir):
    """A stream query drains inside its call; measure attributes it
    from the run's progress: s21 replays 4 chunks, one per trigger."""
    from spark_metrics import measure

    from sparkstreaming_mq_spark import registry

    rec = measure(spark, lambda: registry.all_queries()["s21_stream_ewma"](spark, sf_dir))
    assert rec["stream"]["triggers"] == 4
    assert rec["stream"]["duration_ms"]["addBatch"] > 0
