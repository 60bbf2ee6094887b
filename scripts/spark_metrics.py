"""The one measured-run helper for the profiling scripts.

Every script that times a query or attributes its stages goes through
``measure(spark, make_df)``; this module is the only place that reads
the Spark UI's REST status API (``/api/v1/applications/<id>/stages``
and ``/jobs``).

- ``stage_metrics(spark)``: one row per completed stage — tasks,
  executorRunTime / executorCpuTime, spill, shuffle and in/out bytes.
  runTime >> cpuTime on a stage = waiting (I/O, Python workers, store
  commits); runTime ~ cpuTime = compute. Spill answers "was that
  superlinear step spill or a plan defect?".
- ``run_counted(df)``: executes a DataFrame through its OWN
  QueryExecution (``qe.toRdd().count()``), so the program timed is the
  program registered and the post-run ``executedPlan`` carries AQE's
  final decisions (``skew=true`` on split sort-merge joins).
  ``df.count()`` would build a SEPARATE pruned query — it drops the
  Python node of a scalar/pandas UDF query, for one (the CLAUDE.md
  count()-prunes lesson).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

TOTALS = (
    "tasks", "run_ms", "cpu_ms", "memory_spill", "disk_spill",
    "shuffle_write", "shuffle_read", "input_bytes", "output_bytes",
)


def stage_metrics(spark) -> dict:
    """{"<stageId>.<attempt>": row} over all completed stages so far."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as resp:
        stages = json.load(resp)
    return {
        f"{s['stageId']}.{s.get('attemptId', 0)}": {
            "name": s.get("name", "")[:90],
            "tasks": s.get("numCompleteTasks", 0),
            "run_ms": s.get("executorRunTime", 0),
            "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6, 1),
            "memory_spill": s.get("memoryBytesSpilled", 0),
            "disk_spill": s.get("diskBytesSpilled", 0),
            "shuffle_write": s.get("shuffleWriteBytes", 0),
            "shuffle_read": s.get("shuffleReadBytes", 0),
            "input_bytes": s.get("inputBytes", 0),
            "output_bytes": s.get("outputBytes", 0),
        }
        for s in stages
    }


def job_ids(spark) -> set[int]:
    """Ids of every Spark job the application has started so far."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return {j["jobId"] for j in json.load(resp)}


def diff_metrics(before: dict, after: dict) -> dict:
    """Attribution of the stages that completed between two snapshots:
    their totals, the top stages by run time and the spilling ones."""
    new = {sid: row for sid, row in after.items() if sid not in before}
    out = {"stages": len(new)}
    for k in TOTALS:
        out[k] = round(sum(row[k] for row in new.values()), 1)
    rows = [{"stage": sid, **row} for sid, row in new.items()]
    spill = lambda r: r["memory_spill"] + r["disk_spill"]  # noqa: E731
    out["top_run_stages"] = sorted(rows, key=lambda r: r["run_ms"], reverse=True)[:8]
    out["top_spill_stages"] = sorted(
        (r for r in rows if spill(r) > 0), key=spill, reverse=True
    )[:5]
    return out


def run_counted(df) -> tuple[int, str]:
    """Execute ``df`` via its own QueryExecution and return
    (row_count, executed-plan string with AQE final markers)."""
    qe = df._jdf.queryExecution()
    n = qe.toRdd().count()
    return n, qe.executedPlan().toString()


def stream_metrics(progress: list[dict]) -> dict:
    """Per-trigger attribution of one stream run from its
    ``recentProgress``: trigger count, summed ``durationMs`` per phase
    and the state operators' summed commit ms."""
    phases: dict[str, int] = {}
    for p in progress:
        for phase, ms in p.get("durationMs", {}).items():
            phases[phase] = phases.get(phase, 0) + ms
    return {
        "triggers": len(progress),
        "duration_ms": phases,
        "state_commit_ms": sum(
            op.get("commitTimeMs", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        ),
    }


def measure(spark, make_df) -> dict:
    """Time ``run_counted(make_df())`` and attribute its stages.

    ``make_df`` is a thunk so that work done while building the frame
    is timed too: a stream query drains inside the query call and
    returns its memory-sink table. Returns wall seconds, rows, the
    executed plan's AQE skew markers and Python nodes, the number of
    Spark jobs the run started and the ``diff_metrics`` of the stages it
    completed. When the thunk ran a stream, its Python and state work
    runs in the micro-batches, not in the executed (memory-sink scan)
    plan, so ``stream`` adds the last run's ``stream_metrics``. It first
    waits for ``get_spark``'s Python warm-up job, which would otherwise
    land in the diffs of a run started right after the session."""
    from sparkstreaming_mq_spark.session import python_warm_up
    from sparkstreaming_mq_spark.streaming import sources

    python_warm_up()
    progress_before = sources.LAST_PROGRESS
    jobs_before = job_ids(spark)
    before = stage_metrics(spark)
    t0 = time.time()
    n, plan = run_counted(make_df())
    wall = round(time.time() - t0, 3)
    # the REST status store is filled from the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = {
        "wall_s": wall,
        "rows": n,
        "skew_joins": plan.count("skew=true"),
        "aqe_final": "isFinalPlan=true" in plan,
        "python_nodes": sorted(set(re.findall(r"\b\w*(?:Python|InPandas|InArrow)\w*", plan))),
        "jobs": len(job_ids(spark) - jobs_before),
        **diff_metrics(before, stage_metrics(spark)),
    }
    if sources.LAST_PROGRESS is not progress_before:
        out["stream"] = stream_metrics(sources.LAST_PROGRESS)
    return out
