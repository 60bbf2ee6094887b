"""Tests of the seeded input generator.

Run: python -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402

REMAPPED = ("orders", "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    base = tmp_path_factory.mktemp("inputs")
    dirs = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[label] = str(base / label)
        inputs.generate(dirs[label], seed)
    return dirs


def test_same_seed_same_content(generated):
    for name in inputs.TABLES:
        assert inputs.content_hash(generated["a"], name) == inputs.content_hash(generated["b"], name)


def test_other_seed_other_content(generated):
    for name in REMAPPED:
        assert inputs.content_hash(generated["a"], name) != inputs.content_hash(generated["c"], name)


def test_schemas_equal_the_fixture(generated):
    for name in inputs.TABLES:
        want = pq.ParquetFile(os.path.join(inputs.FIXTURE_DIR, f"{name}.parquet")).schema
        got = pq.ParquetFile(os.path.join(generated["c"], f"{name}.parquet")).schema
        assert got.equals(want), name


def _read(d, name):
    return pq.read_table(os.path.join(d, f"{name}.parquet"))


def test_remap_preserves_structure(generated):
    src, out = inputs.FIXTURE_DIR, generated["c"]
    for name in inputs.TABLES:
        assert _read(out, name).num_rows == _read(src, name).num_rows

    # documents: same lengths and distinct-token counts, bijective tokens
    a, b = _read(src, "documents"), _read(out, "documents")
    assert a.column("n_chars").equals(b.column("n_chars"))
    for x, y in zip(a.column("text").to_pylist(), b.column("text").to_pylist()):
        assert len(x) == len(y)
        xs, ys = x.split(" "), y.split(" ")
        assert len(set(xs)) == len(set(ys)) == len(set(zip(xs, ys)))

    # events: time order and per-user grouping survive the shifts
    a, b = _read(src, "events"), _read(out, "events")
    order_a = pc.sort_indices(a, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
    order_b = pc.sort_indices(b, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
    assert order_a.equals(order_b)
    assert pc.count_distinct(a["user_id"]).as_py() == pc.count_distinct(b["user_id"]).as_py()

    # embeddings: vec_id stays a dense range, vectors are unchanged
    a, b = _read(src, "embeddings"), _read(out, "embeddings")
    assert sorted(b.column("vec_id").to_pylist()) == sorted(a.column("vec_id").to_pylist())
    assert sorted(map(tuple, a.column("embedding").to_pylist())) == sorted(
        map(tuple, b.column("embedding").to_pylist())
    )

    # orders/lineitem: keys shift together, so every line keeps its order
    o, li = _read(out, "orders"), _read(out, "lineitem")
    assert pc.all(pc.is_in(li["l_orderkey"], value_set=o["o_orderkey"])).as_py()
