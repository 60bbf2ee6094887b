"""Traced run: per-layer metrics from the outside of the engine.

Spans are recorded from the benchmark's own code around each public
call into the engine; micro-batch spans (from the streaming listener)
and stage spans (from the Spark REST API) are attached as children of
the query span that contains them. All spans stay in memory and are
written when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

from workloads import WORKLOADS

PACKAGE = "sparkstreaming_mq_spark"


class Tracer:
    """In-memory spans: name, kind, start, end (epoch seconds), parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def add(self, name, kind, start, end, parent=None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "kind": kind, "start": start, "end": end, "parent": parent}
        )
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        """Span around a block, child of the enclosing span (no-op when
        tracing is off)."""
        if not self.enabled:
            yield
            return
        sid = self.add(name, kind, time.time(), None, self.stack[-1] if self.stack else None)
        self.stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.time()
            self.stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def patch_engine_function(module_name: str, fn_name: str, wrapper_factory):
    """Replace ``fn_name`` in ``module_name`` and in every engine module
    that imported it by name; return a function that restores them."""
    original = getattr(sys.modules[module_name], fn_name)
    wrapped = wrapper_factory(original)
    patched = []
    for name, mod in list(sys.modules.items()):
        if name.startswith(PACKAGE) and getattr(mod, fn_name, None) is original:
            setattr(mod, fn_name, wrapped)
            patched.append(mod)

    def restore():
        for mod in patched:
            setattr(mod, fn_name, original)

    return restore


# --- Spark REST API ----------------------------------------------------------

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_sql_metric(value: str) -> float:
    """Total of one SQL-node metric string from the REST API.

    Plain counts read ``"1,234"``; timings and sizes read
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (...)"`` and are
    returned in ms and bytes."""
    text = value.strip().splitlines()[-1].strip()
    parts = text.split()
    try:
        number = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return number * _UNITS.get(unit, 1.0)


class Rest:
    """Stage and SQL-execution diffs from the driver's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def get(self, path: str):
        import urllib.request

        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until no job runs and the UI has recorded every stage."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not self.tracker.getActiveJobsIds():
                stages = self.get("/stages?status=active")
                sql = self.get("/sql?details=false&planDescription=false&offset=0&length=1000000")
                if not stages and all(e.get("status") != "RUNNING" for e in sql):
                    return
            time.sleep(0.05)

    def snapshot(self):
        stages = {(s["stageId"], s["attemptId"]) for s in self.get("/stages")}
        n_sql = len(self.get("/sql?details=false&planDescription=false&offset=0&length=1000000"))
        return stages, n_sql

    def diff(self, before):
        """(new finished stages, new SQL executions with node metrics)."""
        self.settle()
        seen, n_sql = before
        stages = [
            s
            for s in self.get("/stages")
            if (s["stageId"], s["attemptId"]) not in seen and s["status"] in ("COMPLETE", "FAILED")
        ]
        sql = self.get(f"/sql?details=true&planDescription=false&offset={n_sql}&length=1000000")
        return stages, sql


def _epoch(stamp: str) -> float:
    """REST/progress timestamps ('2026-01-01T00:00:00.000GMT' or 'Z')."""
    from datetime import datetime, timezone

    stamp = stamp.replace("GMT", "").replace("Z", "")
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


# SQL-node metric name -> per-layer metric (summed over nodes).
SQL_METRICS = {
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_init_ms",
    "time to run Python workers": "python.worker_run_ms",
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
}

# StageData field -> (per-layer metric, scale, unit)
STAGE_METRICS = {
    "executorRunTime": ("jvm.run_ms", 1.0, "ms"),
    "executorCpuTime": ("jvm.cpu_ms", 1e-6, "ms"),
    "jvmGcTime": ("jvm.gc_ms", 1.0, "ms"),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1.0, "B"),
    "shuffleReadBytes": ("shuffle.read_bytes", 1.0, "B"),
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_ms", 1.0, "ms"),
    "memoryBytesSpilled": ("shuffle.spill_bytes", 1.0, "B"),
    "diskBytesSpilled": ("shuffle.spill_bytes", 1.0, "B"),
    "inputBytes": ("scan.input_bytes", 1.0, "B"),
    "numCompleteTasks": ("jvm.tasks", 1.0, "count"),
    "numFailedTasks": ("jvm.tasks_failed", 1.0, "count"),
    "resultSize": ("driver.result_bytes", 1.0, "B"),
}
TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")


def sql_metric_sums(executions) -> dict[str, float]:
    out = {m: 0.0 for m in SQL_METRICS.values()}
    for e in executions:
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                key = SQL_METRICS.get(m["name"])
                if key:
                    out[key] += parse_sql_metric(m["value"])
    return out


def stage_metric_sums(stages) -> dict[str, float]:
    out = {name: 0.0 for name, _, _ in STAGE_METRICS.values()}
    for s in stages:
        for field, (name, scale, _) in STAGE_METRICS.items():
            out[name] += float(s.get(field, 0) or 0) * scale
    return out


# --- spans and self time ----------------------------------------------------


def _covered(interval, children) -> float:
    """Length of the union of ``children`` clipped to ``interval``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span kind: duration minus what its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        own = (s["end"] - s["start"]) - _covered((s["start"], s["end"]), children.get(s["id"], []))
        out[s["kind"]] = out.get(s["kind"], 0.0) + own
    return out


def _innermost(spans: list[dict], ids: list[int], t: float):
    """Id of the shortest span among ``ids`` that contains time ``t``."""
    best = None
    for i in ids:
        s = spans[i]
        if s["start"] <= t <= s["end"] and (best is None or s["end"] - s["start"] < spans[best]["end"] - spans[best]["start"]):
            best = i
    return best


# --- calibration controls ---------------------------------------------------


def _control_map(spark, data_dir):
    """No-op mapInPandas over lineitem: the u2/a18 kernel shape."""
    from sparkstreaming_mq_spark.tables import load_table

    li = load_table(spark, data_dir, "lineitem")
    li.mapInPandas(lambda it: it, schema=li.schema).write.format("noop").mode("overwrite").save()


def _control_state(spark, data_dir):
    """No-op applyInPandasWithState over the 4-chunk events replay,
    keyed by the 64 user shards: the s21/t22 state shape."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sparkstreaming_mq_spark.streaming.sources import read_events_stream_chunked, run_stream_to_table

    def step(key, pdfs, state):
        for _ in pdfs:
            pass
        return iter(())

    stream = read_events_stream_chunked(spark, data_dir, n_chunks=4, order="time")
    out = stream.withColumn("shard", F.pmod("user_id", F.lit(64))).groupBy("shard").applyInPandasWithState(
        step, "shard long", "n long", "append", GroupStateTimeout.NoTimeout
    )
    run_stream_to_table(out).write.format("noop").mode("overwrite").save()


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child (the py4j gateway)."""

    def hwm_kb(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    total = hwm_kb("self")
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[1]) == me and "java" in stat.split(")", 1)[0]:
            total += hwm_kb(pid)
    return total / 1024.0


# --- the traced run -----------------------------------------------------------


def patch_replay_builders(tracer: Tracer):
    """Spans around the cold replay builds (events chunks, docs chunks)."""

    def timed(fn):
        def wrapped(*a, **kw):
            with tracer.span(fn.__name__, "replay_build"):
                return fn(*a, **kw)

        return wrapped

    mod = f"{PACKAGE}.streaming.sources"
    return [
        patch_engine_function(mod, "chunked_events_dir", timed),
        patch_engine_function(mod, "read_docs_stream_chunked", timed),
    ]


def traced_run(tracer, spark, runner, workload, data_dir, tables_read):
    """Per-layer metrics of one workload; returns {name: (value, unit)}."""
    from sparkstreaming_mq_spark.tables import load_table

    def seconds(field, value):
        return sum(s["end"] - s["start"] for s in tracer.spans if s[field] == value and s["end"])

    metrics: dict[str, tuple[float, str]] = {
        "session.start_s": (seconds("name", "session.start"), "s"),
        "registry.import_s": (seconds("name", "registry.import"), "s"),
        "sources.replay_build_s": (seconds("kind", "replay_build"), "s"),
    }

    # Traced pass between two untraced reference passes, so warm-up
    # across passes does not read as tracing overhead.
    jit_before = runner.jit_s
    untraced, _, batches_before = runner.run_pass(workload.queries)
    jit_s = runner.jit_s - jit_before
    rest = Rest(spark)
    sums = {name: 0.0 for name in list(SQL_METRICS.values()) + [n for n, _, _ in STAGE_METRICS.values()]}
    batches_all, outside_s, traced_pass = [], 0.0, 0.0
    for name in workload.queries:
        before = rest.snapshot()
        mark = runner.progress.mark()
        elapsed, _, _ = runner.run_query(name, collect=False)
        traced_pass += elapsed
        stages, sql = rest.diff(before)
        batches = runner.progress.since(mark)
        batches_all += batches
        for k, v in {**sql_metric_sums(sql), **stage_metric_sums(stages)}.items():
            sums[k] += v
        m = runner.marks
        if "done" not in m:
            continue
        qid = tracer.add(f"query.{name}", "query", m["start"], m["done"])
        call = tracer.add(f"call.{name}", "call", m["start"], m["called"], qid)
        mat = tracer.add(f"materialize.{name}", "materialize", m["called"], m["done"], qid)
        mb_ids = []
        for b in batches:
            start = _epoch(b["timestamp"])
            dur = b["duration_ms"].get("triggerExecution", 0) / 1000.0
            mb_ids.append(tracer.add(f"microbatch.{name}", "microbatch", start, start + dur, call))
        if batches:
            outside_s += elapsed - sum(b["duration_ms"].get("triggerExecution", 0) for b in batches) / 1000.0
        for s in stages:
            if not s.get("submissionTime") or not s.get("completionTime"):
                continue
            a, b = _epoch(s["submissionTime"]), _epoch(s["completionTime"])
            parent = _innermost(tracer.spans, mb_ids + [call, mat], (a + b) / 2)
            tracer.add(f"stage.{s['stageId']}", "stage", a, b, qid if parent is None else parent)

    jit_before = runner.jit_s
    untraced_after, _, batches_after = runner.run_pass(workload.queries)
    jit_s += runner.jit_s - jit_before
    units = {n: u for n, _, u in STAGE_METRICS.values()}
    for k, v in sums.items():
        metrics[k] = (v, units.get(k, "ms" if k.endswith("_ms") else "B"))
    metrics["sources.triggers"] = (float(len(batches_all)), "count")
    metrics["sources.input_rows"] = (float(sum(b["num_input_rows"] for b in batches_all)), "count")
    for phase in TRIGGER_PHASES:
        metrics[f"sources.trigger_ms.{phase}"] = (
            float(sum(b["duration_ms"].get(phase, 0) for b in batches_all)), "ms")
    metrics["sources.outside_trigger_s"] = (outside_s, "s")
    # micro-batch latency and throughput of the untraced passes (0
    # without micro-batches)
    lat = [float(b["duration_ms"].get("triggerExecution", 0)) for b in batches_before + batches_after]
    rows = sum(b["num_input_rows"] for b in batches_before + batches_after)
    metrics["sources.events_per_s"] = (rows / (sum(lat) / 1000.0) if sum(lat) else 0.0, "1/s")
    deciles = statistics.quantiles(lat, n=10, method="inclusive") if len(lat) > 1 else [0.0] * 9
    metrics["sources.batch_latency_p50_ms"] = (deciles[4], "ms")
    metrics["sources.batch_latency_p90_ms"] = (deciles[8], "ms")
    last_state: dict[str, list] = {}
    for b in batches_all:
        last_state[b["id"]] = b["state"]
    metrics["state.commit_ms"] = (float(sum(s["commit_ms"] for b in batches_all for s in b["state"])), "ms")
    metrics["state.rows_total"] = (float(sum(s["rows_total"] for st in last_state.values() for s in st)), "count")
    metrics["state.memory_bytes"] = (float(sum(s["memory_bytes"] for st in last_state.values() for s in st)), "B")

    # tables.scan_s: load_table + noop over each table the workload reads
    t0 = time.perf_counter()
    for t in sorted(set().union(*tables_read.values())):
        load_table(spark, data_dir, t).write.format("noop").mode("overwrite").save()
    metrics["tables.scan_s"] = (time.perf_counter() - t0, "s")

    # python.* controls: no-op kernels of the same shapes
    before = rest.snapshot()
    _control_map(spark, data_dir)
    _control_state(spark, data_dir)
    runner.progress.wait_terminated()
    _, sql = rest.diff(before)
    control = sql_metric_sums(sql)
    for key in ("python.worker_start_ms", "python.worker_init_ms", "python.worker_run_ms"):
        metrics[key.replace("python.", "python.control_")] = (control[key], "ms")

    untraced_s = (sum(untraced.values()) + sum(untraced_after.values())) / 2
    metrics["pass.wall_s"] = (untraced_s, "s")
    metrics["jvm.jit_cpu_s"] = (jit_s / 2, "s")
    metrics["trace.overhead_ratio"] = (traced_pass / untraced_s - 1.0, "ratio")
    own = self_times(tracer.spans)
    for kind in ("call", "materialize", "microbatch", "stage"):
        metrics[f"self.{kind}_s"] = (own.get(kind, 0.0), "s")
    # one slot per query of every workload; queries this workload does
    # not run read 0
    for name in sorted({q for w in WORKLOADS.values() for q in w.queries}):
        secs = (untraced[name] + untraced_after[name]) / 2 if name in untraced else 0.0
        metrics[f"query.{name}_s"] = (secs, "s")
    metrics["driver.peak_rss_mb"] = (peak_rss_mb(), "MB")
    metrics["host.load_1m"] = (os.getloadavg()[0], "load")
    return metrics
