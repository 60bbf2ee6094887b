"""Oracle-comparison helpers shared by scripts/check_oracle.py and the
pytest layer — a local mirror of the driver harness's row-count +
column-name + order-insensitive canonicalized-value comparison
(/root/repo/__spark_entry__.py:3-7).
"""

from __future__ import annotations

import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd

from sparkstreaming_mq_spark.tables import TABLES, table_path


def canon_val(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(canon_val(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def canon_frame(df: pd.DataFrame):
    """(sorted column names, row tuples sorted order-insensitively)."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(canon_val(v) for v in tup) for tup in df.itertuples(index=False)]
    rows.sort(key=repr)
    return list(df.columns), rows


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per fixture table (the driver's
    pre-registered views)."""
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            # a Spark-written table (the scale and skew corpora) is a
            # directory of part files, which read_parquet cannot open
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def array_typed_cols(pdf: pd.DataFrame) -> list[str]:
    """Columns whose cells are arrays/lists/dicts — the driver's
    canonicalizer (pandas sort over result cells) crashes on these
    (r02: `unhashable type: numpy.ndarray` on a6_collect/f5_array).
    Oracle-checked queries must scalarize such columns on both sides."""
    bad = []
    for c in pdf.columns:
        col = pdf[c].dropna()
        if len(col) and isinstance(col.iloc[0], (np.ndarray, list, tuple, dict, set)):
            bad.append(c)
    return bad


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None if equivalent, else a human-readable mismatch description."""
    bad = array_typed_cols(spark_pdf)
    if bad:
        return f"array-typed output column(s) {bad} would crash the driver canonicalizer"
    # Pandas dtype KIND must match per column (int family collapsed:
    # int32-vs-int64 is driver-proven safe). An object-vs-float pairing
    # (Spark DECIMAL collects as Decimal objects, DuckDB as float64)
    # stringifies differently at the driver ('123.40' vs '123.4') even
    # when canon_val's Decimal->float erases it here — the f5-class
    # trap, caught by the round-4 dtype audit on j13.
    kind = lambda d: "i" if d.kind in "iu" else d.kind
    kbad = {
        c: (str(spark_pdf[c].dtype), str(oracle_pdf[c].dtype))
        for c in spark_pdf.columns
        if c in oracle_pdf.columns
        and kind(spark_pdf[c].dtype) != kind(oracle_pdf[c].dtype)
    }
    if kbad:
        return f"column dtype-kind mismatch (driver stringification risk): {kbad}"
    scols, srows = canon_frame(spark_pdf)
    ocols, orows = canon_frame(oracle_pdf)
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} oracle={len(orows)}"
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    # Compare reprs, not values: the driver hashes *stringified* cells, so
    # int 126 vs float 126.0 must FAIL here even though 126 == 126.0 (this
    # permissiveness hid a scored-row hash failure in r2 AND r3). repr is
    # exactly as strict as == for matching dtypes (float == was already
    # exact), and additionally distinguishes int/float/bool representations.
    sreprs = [repr(r) for r in srows]
    oreprs = [repr(r) for r in orows]
    if sreprs != oreprs:
        diffs = [(a, b) for a, b in zip(sreprs, oreprs) if a != b]
        return f"{len(diffs)}/{len(srows)} rows differ; first spark={diffs[0][0]} oracle={diffs[0][1]}"
    return None
