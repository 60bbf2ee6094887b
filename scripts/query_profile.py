#!/usr/bin/env python
"""Per-query stage profiler: one registered query, one fresh process.

Runs one warmup + N timed runs of the query (launch solo, never beside
other Spark work), each through ``spark_metrics.measure`` — so the
timed program is the registered one, and every run records its wall,
rows, executed-plan Python nodes and per-stage run/CPU/spill/shuffle
attribution. The replay fixture the stream queries read (chunk file
count and bytes) is pinned in the artifact.

``--warm <dir>`` runs the warmup on another dir (the per-session
protocol: a fresh session per measured dir, warmed on sf0.1 so JIT and
Arrow-worker startup stay out of the timed runs). In-session
sequential runs over several big dirs contaminate each other — l50's
uniform-then-skew pair faked a 3.6x "skew ratio" that is 0.87x
per-session (measurements/skew_l50_r11.json).

Usage:
  python scripts/query_profile.py <query> [sf_dir] [n_runs] [out.json] [--warm <dir>]
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkstreaming_mq_spark import registry  # noqa: E402
from sparkstreaming_mq_spark.session import get_spark  # noqa: E402
from sparkstreaming_mq_spark.streaming.sources import (  # noqa: E402
    chunked_events_dir,
)
from spark_metrics import measure  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    warm_dir = None
    if "--warm" in args:
        i = args.index("--warm")
        warm_dir = args[i + 1]
        del args[i : i + 2]
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    n_runs = int(args[2]) if len(args) > 2 else 3
    out_path = (
        args[3] if len(args) > 3 else os.path.join(REPO, "measurements", f"{name}_profile.json")
    )
    spark = get_spark(
        app_name=f"sparkgraft-profile-{name}",
        extra_conf={"spark.driver.memory": "8g"},
    )

    # pin the replay fixture exactly as streaming queries will see it
    # (skipped for dirs without events.parquet, e.g. docs-only corpora)
    try:
        replay_dir = chunked_events_dir(sf_dir, n_chunks=4, order="time")
        chunks = sorted(glob.glob(os.path.join(replay_dir, "chunk_*")))
        fixture = {
            "replay_dir": replay_dir,
            "n_chunk_files": len(chunks),
            "chunk_bytes": [os.path.getsize(c) for c in chunks],
        }
    except Exception as e:
        fixture = {"skipped": str(e)[:120]}

    fn = registry.all_queries()[name]
    runs = []
    for i in range(n_runs + 1):  # first run = warmup (cache/JIT), kept labeled
        d = warm_dir if i == 0 and warm_dir else sf_dir
        runs.append({"warmup": i == 0, "dir": d, **measure(spark, lambda: fn(spark, d))})
        print(
            f"run {i} ({'warmup' if i == 0 else 'timed'}): {runs[-1]['wall_s']}s, "
            f"{runs[-1]['rows']} rows",
            file=sys.stderr,
        )

    artifact = {
        "query": name,
        "sf_dir": sf_dir,
        "fixture": fixture,
        "uptime_sec": float(open("/proc/uptime").read().split()[0]),
        "load_avg": list(os.getloadavg()),
        "runs": runs,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"written": out_path, "walls": [r["wall_s"] for r in runs]}))


if __name__ == "__main__":
    main()
