#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every registered query at a given scale factor, runs its DuckDB
oracle SQL over the same parquet, and compares row-count + column names
+ order-insensitive canonicalized values (a strict proxy for the
driver's value-hash). Queries without an oracle get a rows-only check
(must run and return >= 0 rows).

Usage: python scripts/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstreaming_mq_spark import registry  # noqa: E402
from sparkstreaming_mq_spark.oracle import array_typed_cols, compare, duckdb_connect  # noqa: E402
from sparkstreaming_mq_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]

    # no console progress bar: its \r-rewritten "[Stage N: ...]" text would
    # share a stdout line with the next PASS/FAIL line
    spark = get_spark(
        shuffle_partitions=8, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb_connect(sf_dir)

    qs = registry.all_queries()
    oracles = registry.all_oracles()

    n_pass = n_rows_only = n_fail = 0
    failures = []
    for name in sorted(qs):
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc(limit=4)
            continue
        dt = time.time() - t0
        if name not in oracles:
            n_rows_only += 1
            bad = array_typed_cols(sdf)
            note = f" [WARN array cols {bad}]" if bad else ""
            print(f"rows  {name}: {len(sdf)} rows ({dt:.1f}s){note}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: oracle SQL raised")
            traceback.print_exc(limit=4)
            continue
        err = compare(sdf, odf)
        if err is None:
            n_pass += 1
            print(f"PASS  {name}: {len(sdf)} rows ({dt:.1f}s)")
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: {err}")

    # A module that fails to import hides every query it registers — the
    # round-1 "work invisible to the driver" failure mode. Count as fail.
    for mod, err in registry.LOAD_ERRORS.items():
        n_fail += 1
        failures.append(mod)
        print(f"FAIL  {mod}: module load error: {err}")

    print(f"\n== {n_pass} pass, {n_rows_only} rows-only, {n_fail} fail ==")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
