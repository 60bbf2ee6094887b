"""Run a set of seeded runs and check the benchmark's steadiness.

For each workload, runs ``run.py`` once per seed (``--runs`` seeds from
``--first-seed``), then prints per end-to-end metric the median, the
quartile spread ((Q3 - Q1) / median, from ``statistics.quantiles(n=4)``)
and the bound from BENCHMARK.json. With ``--against`` it also prints
how far each median moved from an earlier set, as a share of that
set's median; a move worse than the bound is a regression.

Usage: python3 perfbench/steady.py --out set.json [--runs 10]
       [--first-seed 1] [--workloads w ...] [--against earlier.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_set(workloads, seeds, seconds) -> dict:
    runs = {}
    for w in workloads:
        runs[w] = []
        for seed in seeds:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                raise SystemExit(f"{w} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            result.update(seed=seed, wall_s=wall)
            runs[w].append(result)
            print(f"{w} seed={seed} wall={wall:.1f}s correct={result['correct']}", flush=True)
    return runs


def summarize(runs: dict, bounds: dict) -> dict:
    out = {}
    for w, rs in runs.items():
        out[w] = {}
        for name in bounds:
            values = [r["metrics"][name]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(values, n=4)
            out[w][name] = {"median": statistics.median(values), "q1": q1, "q3": q3,
                            "spread": (q3 - q1) / statistics.median(values)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--against")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    seeds = range(args.first_seed, args.first_seed + args.runs)

    runs = run_set(workloads, seeds, spec["run_seconds"])
    summary = summarize(runs, bounds)
    earlier = None
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)["summary"]
    ok = all(r["correct"] for rs in runs.values() for r in rs)
    for w, metrics in summary.items():
        walls = [r["wall_s"] for r in runs[w]]
        print(f"{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for name, s in metrics.items():
            line = f"  {name:22s} median={s['median']:12.4f} spread={s['spread']:.3f} bound={bounds[name]}"
            if name != "setup_s" and s["spread"] > bounds[name]:
                line += " SPREAD>BOUND"
                ok = False
            if earlier and w in earlier:
                prev = earlier[w][name]["median"]
                worse = (s["median"] - prev) / prev * (1 if better[name] == "lower" else -1)
                line += f" worse_than_earlier={worse:+.3f}"
                if worse > bounds[name]:
                    line += " REGRESSION"
                    ok = False
            print(line)
    with open(args.out, "w") as f:
        json.dump({"seeds": list(seeds), "summary": summary, "runs": runs}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
