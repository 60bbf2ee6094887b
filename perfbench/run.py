"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload mq_stateful --seed 1 --seconds 6 --trace 0

Steps: refuse to run beside another Spark or pytest process, generate
the seeded inputs, start the engine process (``engine.py``) with the
checkout importable on Python workers, a fresh ``TMPDIR`` and
``SPARK_GRAFT_CPUS=$(nproc)``, stop its whole process group, and print
as the last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).

Everything is written under ``perfbench/.work/`` (inputs, temp files,
logs; removed at exit) and ``perfbench/out/`` (traces; kept).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ENGINE_TIMEOUT_S = 165
CONTENTION_WAIT_S = 20
CONTENDERS = ("org.apache.spark.deploy.SparkSubmit", "pytest")


def fail(msg: str, code: int = 2) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    raise SystemExit(code)


def contenders() -> list[str]:
    """Command lines of other Spark drivers or pytest runs on this host."""
    me = os.getpid()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if any(c in cmd for c in CONTENDERS):
            found.append(f"{pid}: {cmd[:120]}")
    return found


def wait_uncontended() -> None:
    deadline = time.monotonic() + CONTENTION_WAIT_S
    while True:
        found = contenders()
        if not found:
            return
        if time.monotonic() > deadline:
            fail("refusing to run beside another Spark or pytest process:\n  " + "\n  ".join(found), 3)
        time.sleep(1)


def check_metrics(metrics: dict, trace: int) -> None:
    """The run must report exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    if want != got:
        diff = sorted(set(want.items()) ^ set(got.items()))
        fail(f"metrics differ from BENCHMARK.json: {diff}", 5)


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the engine's process group and reap it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its engine and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "sparkstreaming_mq_spark", "__init__.py")):
        fail(f"engine package sparkstreaming_mq_spark not found under {ROOT}")
    wait_uncontended()
    load = os.getloadavg()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    try:
        data = os.path.join(work, "data")
        inputs.generate(data, args.seed)
        cpus = str(len(os.sched_getaffinity(0)))
        env = dict(os.environ)
        env.update(
            {
                "SPARK_GRAFT_CPUS": cpus,
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": tmp,
                "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
                "PERFBENCH_OUT": out_dir,
            }
        )
        result_path = os.path.join(work, "result.json")
        log_path = os.path.join(work, "engine.log")
        cmd = [
            sys.executable,
            os.path.join(HERE, "engine.py"),
            "--workload", args.workload,
            "--data", data,
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--out", result_path,
        ]
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
            )
            try:
                code = proc.wait(timeout=ENGINE_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                stop_group(proc)
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            why = "timed out" if code is None else f"exited with {code}"
            fail(f"engine {why}; log tail:\n{tail}", 4)
        with open(result_path) as f:
            result = json.load(f)
        check_metrics(result["metrics"], args.trace)
        with open(log_path, errors="replace") as f:
            for line in f:
                if line.startswith("[engine]"):
                    print(line.rstrip(), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} cpus={cpus} "
          f"load_avg={load[0]:.2f},{load[1]:.2f},{load[2]:.2f}")
    for name, m in result["metrics"].items():
        print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
    print(f"  attempted={result['attempted']} failed={result['failed']} correct={result['correct']}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
