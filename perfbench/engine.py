"""Engine process of the benchmark: one workload, one Spark session.

Started by ``run.py`` with the checkout importable, a fresh ``TMPDIR``
and ``SPARK_GRAFT_CPUS`` set. The clock starts before the engine is
imported. Phases:

1. set-up: ``session.get_spark``, ``registry.all_queries()`` and one
   cold pass over the workload that collects every output;
2. measured passes: whole warm passes, each query materialized through
   the ``noop`` sink, until ``--seconds`` have elapsed (at least
   ``MIN_PASSES``). A query's cost is the CPU seconds the engine's
   processes used while it ran, less what the JVM's JIT compiler
   threads used meanwhile. Wall time on a shared VM also counts the
   time the hypervisor gives to other guests (steal), and JIT
   compilation keeps going for many passes; both swing from run to run;
3. oracle check: each collected output against its DuckDB oracle.

With ``--trace 1`` the measured passes are replaced by a traced pass
between two untraced ones (see ``tracing.py``) and the per-layer
metrics, wall times among them, are written instead of the end-to-end
ones.

Usage: python perfbench/engine.py --workload W --data DIR --seconds S
       --trace 0|1 --out result.json
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the first warm pass still runs colder code; a median over five
# passes is robust to it and to one more outlier
MIN_PASSES = 5
CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds used by this session's processes: the engine, its
    driver JVM and the Python worker daemon (which has a process group
    of its own) with the workers it has reaped. Time the hypervisor
    gives to other guests (steal) does not count."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
    return total / CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used. The JVM is
    started with a fixed set of compiler threads, so none ends and takes
    its count with it."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread ended
            continue
        if "CompilerThre" in stat[stat.index("(") + 1 : stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2 :].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / CLK_TCK


def log(msg: str) -> None:
    print(f"[engine] {msg}", file=sys.stderr, flush=True)


class ProgressLog:
    """StreamingQueryListener sink: one record per micro-batch.

    Progress events arrive asynchronously; ``wait_terminated`` blocks
    until every started query has reported termination, which Spark
    posts after the query's last progress event."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log_ = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log_.lock:
                    log_.started.add(str(event.id))

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "id": str(p.id),
                    "timestamp": p.timestamp,
                    "num_input_rows": int(p.numInputRows),
                    "duration_ms": {k: int(v) for k, v in dict(p.durationMs).items()},
                    "state": [
                        {
                            "commit_ms": int(s.commitTimeMs),
                            "rows_total": int(s.numRowsTotal),
                            "memory_bytes": int(s.memoryUsedBytes),
                        }
                        for s in p.stateOperators
                    ],
                }
                with log_.lock:
                    log_.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log_.lock:
                    log_.terminated.add(str(event.id))

        return _Listener()

    def mark(self) -> int:
        with self.lock:
            return len(self.batches)

    def since(self, mark: int) -> list[dict]:
        with self.lock:
            return list(self.batches[mark:])

    def wait_terminated(self, timeout_s: float = 10.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    return
            time.sleep(0.01)
        log("timed out waiting for streaming termination events")


class Runner:
    """Runs workload queries and keeps the per-run accounting."""

    def __init__(self, spark, queries, data_dir, progress: ProgressLog):
        self.spark = spark
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.jit_s = 0.0  # JIT compiler CPU seconds over all queries run
        self.queries = queries
        self.data_dir = data_dir
        self.progress = progress
        self.attempted = 0
        self.failures = 0
        # epoch times of the last query's start, call return and end
        # (the traced run turns them into spans)
        self.marks: dict[str, float] = {}

    def run_query(self, name: str, collect: bool):
        """Call the query function and materialize its result.

        Returns (wall seconds, CPU seconds less JIT compilation,
        collected pandas frame or None). A raise counts as a failure and
        its time still counts."""
        self.attempted += 1
        pdf = None
        c0, j0 = session_cpu_s(), jit_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        self.marks = {"start": time.time()}
        try:
            df = self.queries[name](self.spark, self.data_dir)
            self.marks["called"] = time.time()
            if collect:
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            self.marks["done"] = time.time()
        except Exception:  # a failing query must not end the run
            self.failures += 1
            log(f"{name} raised:\n{traceback.format_exc(limit=3)}")
            for q in self.spark.streams.active:
                q.stop()
        elapsed = time.perf_counter() - t0
        jit = jit_cpu_s(self.jvm_pid) - j0
        cpu = session_cpu_s() - c0 - jit
        self.jit_s += jit
        self.progress.wait_terminated()
        return elapsed, cpu, pdf

    def run_pass(self, names):
        """One warm pass; returns ({query: wall seconds}, {query: CPU
        seconds less JIT}, micro-batch records)."""
        mark = self.progress.mark()
        wall, cpu = {}, {}
        for name in names:
            wall[name], cpu[name], _ = self.run_query(name, collect=False)
        return wall, cpu, self.progress.since(mark)


def oracle_check(names, outputs, data_dir):
    """Compare each collected output to its DuckDB oracle.

    Returns ({query: mismatch text}, seconds). A query with no
    collected output counts as a mismatch."""
    from sparkstreaming_mq_spark import registry
    from sparkstreaming_mq_spark.oracle import compare, duckdb_connect

    t0 = time.perf_counter()
    oracles = registry.all_oracles()
    con = duckdb_connect(data_dir)
    bad = {}
    try:
        for name in names:
            if name not in outputs:
                bad[name] = "no output: the set-up pass raised"
                continue
            try:
                err = compare(outputs[name], con.execute(oracles[name]).fetchdf())
            except Exception as exc:  # an oracle that raises is a failed check
                err = f"oracle raised {type(exc).__name__}: {exc}"
            if err is not None:
                bad[name] = err
    finally:
        con.close()
    return bad, time.perf_counter() - t0


def end_to_end(workload, setup_s, pass_cpu):
    """The end-to-end metrics of a run from its measured passes: each
    query's median CPU seconds over the passes, summed and as a
    geometric mean."""
    per_query = [statistics.median(p[q] for p in pass_cpu) for q in workload.queries]
    geomean = math.exp(sum(math.log(max(t, 1e-9)) for t in per_query) / len(per_query))
    return {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (sum(per_query), "s"),
        "query_cpu_s_geomean": (geomean, "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    workload = WORKLOADS[args.workload]

    tracer = tracing.Tracer(enabled=bool(args.trace))
    with tracer.span("session.start", "setup"):
        from sparkstreaming_mq_spark.session import get_spark

        work = os.environ["TMPDIR"]
        spark = get_spark(
            app_name=f"perfbench-{workload.name}",
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={work}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("registry.import", "setup"):
        from sparkstreaming_mq_spark import registry

        queries = registry.all_queries()
    missing = [q for q in workload.queries if q not in queries]
    if missing:
        raise SystemExit(f"workload queries not registered: {missing}")

    progress = ProgressLog()
    spark.streams.addListener(progress.listener())
    runner = Runner(spark, queries, args.data, progress)

    # Set-up pass: cold caches; collects every output for the oracle.
    tables_read: dict[str, set[str]] = {q: set() for q in workload.queries}
    current = [None]

    def record_tables(load_table):
        def wrapped(spark_, sf_dir, name):
            if current[0] is not None:
                tables_read[current[0]].add(name)
            return load_table(spark_, sf_dir, name)

        return wrapped

    restores = [tracing.patch_engine_function("sparkstreaming_mq_spark.tables", "load_table", record_tables)]
    if args.trace:
        restores += tracing.patch_replay_builders(tracer)
    outputs, cold = {}, {}
    with tracer.span("cold_pass", "setup"):
        for name in workload.queries:
            current[0] = name
            with tracer.span(f"query.{name}", "cold_query"):
                cold[name], _, pdf = runner.run_query(name, collect=True)
            if pdf is not None:
                outputs[name] = pdf
    current[0] = None
    for restore in restores:
        restore()
    setup_s = time.perf_counter() - T_START
    log(f"set-up {setup_s:.2f}s; cold pass " + ", ".join(f"{q} {t:.2f}s" for q, t in cold.items()))

    if args.trace:
        metrics = tracing.traced_run(tracer, spark, runner, workload, args.data, tables_read)
    else:
        pass_cpu = []
        t_measured = time.perf_counter()
        while len(pass_cpu) < MIN_PASSES or time.perf_counter() - t_measured < args.seconds:
            wall, cpu, _ = runner.run_pass(workload.queries)
            pass_cpu.append(cpu)
            log(f"pass {len(pass_cpu)}: {sum(wall.values()):.3f}s, cpu {sum(cpu.values()):.2f}s; "
                + ", ".join(f"{q} {cpu[q]:.2f}" for q in workload.queries))
        metrics = end_to_end(workload, setup_s, pass_cpu)

    bad, check_s = oracle_check(workload.queries, outputs, args.data)
    if args.trace:
        metrics["oracle.check_s"] = (check_s, "s")
        metrics["oracle.mismatches"] = (float(len(bad)), "count")
        tracer.write(os.path.join(os.environ["PERFBENCH_OUT"], f"trace-{workload.name}.json"))
    for name, err in sorted(bad.items()):
        log(f"oracle mismatch {name}: {err}")
    # operations: every query execution plus one oracle check per query
    failed = runner.failures + len(bad)
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted + len(workload.queries),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
