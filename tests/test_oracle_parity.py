"""Oracle-differential tests (SURVEY.md §5.1): every registered query
with oracle SQL must match DuckDB exactly at sf0.001 — the same
comparison the driver harness runs at sf0.01."""

from __future__ import annotations

import pytest

from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.oracle import compare

registry.load_all()
ORACLE_NAMES = sorted(registry.ORACLES)
ROWS_ONLY_NAMES = sorted(set(registry.QUERIES) - set(registry.ORACLES))


def test_registry_loads_clean():
    assert not registry.LOAD_ERRORS, f"registry import failures: {registry.LOAD_ERRORS}"
    assert len(registry.QUERIES) >= 80
    assert set(registry.ORACLES) <= set(registry.QUERIES)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name, spark, duck, sf_dir):
    sdf = registry.QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.execute(registry.ORACLES[name]).fetchdf()
    err = compare(sdf, odf)
    assert err is None, f"{name}: {err}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name, spark, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert df.schema.fields, f"{name}: empty schema"
    # the driver canonicalizer dies on array cells (r02); every
    # registered query must emit scalar columns only (typed arrays
    # live inside the operators; driver-facing projections scalarize)
    bad = [f.name for f in df.schema.fields
           if f.dataType.simpleString().startswith(("array", "map", "struct"))]
    assert not bad, f"{name}: non-scalar output columns {bad}"


def test_compare_rejects_int_vs_float_dtypes():
    """r2 (array canon) and r3 (f5_array int-vs-double) both slipped past a
    value-equal but repr-different mirror: 126 == 126.0 in Python, but the
    driver hashes stringified cells where '126' != '126.0'. The mirror must
    be at least as strict as the driver."""
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [126, 240]})            # int64
    b = pd.DataFrame({"k": [1, 2], "v": [126.0, 240.0]})        # float64
    assert compare(a, b) is not None
    assert compare(a, a.copy()) is None
    # bool-vs-int likewise differs under str()
    c = pd.DataFrame({"k": [1, 2], "v": [True, False]})
    d = pd.DataFrame({"k": [1, 2], "v": [1, 0]})
    assert compare(c, d) is not None


def test_compare_rejects_decimal_object_vs_float_dtype():
    """r4 dtype audit: a Spark DECIMAL column collects as object cells
    (decimal.Decimal) while DuckDB returns float64. canon_val's
    Decimal->float made them repr-equal locally, but the driver
    stringifies Decimal('123.40') as '123.40' vs float '123.4' — the
    f5-class hash trap (found latent in j13). The mirror must reject
    the dtype-KIND pairing even when values agree."""
    import decimal

    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [decimal.Decimal("123.40"), decimal.Decimal("7.10")]})
    b = pd.DataFrame({"k": [1, 2], "v": [123.4, 7.1]})
    assert compare(a, b) is not None
    # int32-vs-int64 stays allowed (driver-proven safe, f1/l4 r03)
    c = pd.DataFrame({"k": pd.array([1, 2], dtype="int32")})
    d = pd.DataFrame({"k": pd.array([1, 2], dtype="int64")})
    assert compare(c, d) is None


def test_oracle_views_read_part_file_directories(tmp_path):
    """A Spark-written table is a directory of part files (the scale and
    skew corpora); its view must count the rows of every part."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkstreaming_mq_spark.oracle import duckdb_connect

    region = tmp_path / "region.parquet"
    region.mkdir()
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2]}), region / "part-00000.parquet")
    pq.write_table(pa.table({"r_regionkey": [3, 4]}), region / "part-00001.parquet")
    con = duckdb_connect(str(tmp_path))
    assert con.execute("SELECT count(*) FROM region").fetchone()[0] == 5
