"""Seeded benchmark inputs: a structure-preserving remap of the template.

``fixture/`` holds the sf0.01 fixture tables (TPC-H-ish star schema,
the ``events`` stream table, ``documents`` and ``embeddings``). Each
seed remaps them with bijections, so every seed costs the same work on
different values:

- ``orders``/``lineitem``: order keys shifted by one seeded stride;
- ``events``: ``event_id`` and ``user_id`` shifted, ``ts`` shifted by
  whole weeks (time order, per-user sequences and window alignment
  within a week are kept);
- ``documents``: every vocabulary token mapped to a distinct random
  token of the same length (token-set Jaccard, distinct-token counts
  and ``n_chars`` are exact);
- ``embeddings``: ``vec_id`` permuted over its own dense range;
- dimension tables are copied unchanged.

Key shifts are multiples of ``KEY_STRIDE`` so the residues the engine's
sharding and sampling use (``pmod(key, 64)``, ``% 4``, ``% 5``, ``% 7``,
``% 25``) are unchanged.

Each table is written as one parquet file ``<out>/<table>.parquet``
with pyarrow, so the footer matches the fixture: ``events.ts`` stays
INT64 TIMESTAMP(MICROS) without UTC adjustment, and no Spark metadata
is added.

Usage: python perfbench/inputs.py <out_dir> <seed>
"""

from __future__ import annotations

import hashlib
import os
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
# 2^6 * 3^2 * 5^2 * 7: multiples keep every residue the engine keys on.
KEY_STRIDE = 100_800
WEEK_US = 7 * 24 * 3600 * 1_000_000


def _shift(table: pa.Table, column: str, delta: int) -> pa.Table:
    i = table.schema.get_field_index(column)
    col = table.column(i)
    return table.set_column(i, table.schema.field(i), pc.add(col, pa.scalar(delta, col.type)))


def _token_bijection(tokens: list[str], rng: np.random.Generator) -> dict[str, str]:
    """Map each token to a distinct random lowercase token of equal length."""
    letters = np.array(list(string.ascii_lowercase))
    out: dict[str, str] = {}
    used: set[str] = set()
    for tok in sorted(tokens):
        while True:
            new = "".join(rng.choice(letters, size=len(tok)))
            if new not in used:
                break
        used.add(new)
        out[tok] = new
    return out


def _remap(name: str, table: pa.Table, rng: np.random.Generator, order_shift: int) -> pa.Table:
    """Seeded bijective remap of one template table (dims pass through)."""
    if name == "orders":
        return _shift(table, "o_orderkey", order_shift)
    if name == "lineitem":
        return _shift(table, "l_orderkey", order_shift)
    if name == "events":
        table = _shift(table, "event_id", int(rng.integers(1, 64)) * KEY_STRIDE)
        table = _shift(table, "user_id", int(rng.integers(1, 64)) * KEY_STRIDE)
        i = table.schema.get_field_index("ts")
        ts = table.column(i)
        shifted = pc.add(ts.cast(pa.int64()), pa.scalar(int(rng.integers(0, 52)) * WEEK_US))
        return table.set_column(i, table.schema.field(i), shifted.cast(ts.type))
    if name == "documents":
        i = table.schema.get_field_index("text")
        texts = table.column(i).to_pylist()
        mapping = _token_bijection(sorted({t for text in texts for t in text.split(" ")}), rng)
        new = pa.array([" ".join(mapping[t] for t in text.split(" ")) for text in texts])
        return table.set_column(i, table.schema.field(i), new.cast(table.schema.field(i).type))
    if name == "embeddings":
        i = table.schema.get_field_index("vec_id")
        ids = table.column(i).to_numpy()
        lo = int(ids.min())
        if not np.array_equal(np.sort(ids), np.arange(lo, lo + len(ids))):
            raise ValueError("embeddings.vec_id must be a dense range")
        new = pa.array(rng.permutation(len(ids))[ids - lo] + lo, type=table.schema.field(i).type)
        return table.set_column(i, table.schema.field(i), new).sort_by("vec_id")
    return table


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every remapped table to ``out_dir``; return row counts.

    Random draws happen in the fixed ``TABLES`` order, so the output
    depends only on ``seed``."""
    rng = np.random.default_rng(seed)
    order_shift = int(rng.integers(1, 64)) * KEY_STRIDE
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    for name in TABLES:
        table = _remap(name, pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet")), rng, order_shift)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def content_hash(data_dir: str, name: str) -> str:
    """sha256 over a table's schema and column values (not file bytes)."""
    table = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
    h = hashlib.sha256(table.schema.remove_metadata().to_string().encode())
    for batch in table.to_batches():
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, batch.schema) as writer:
            writer.write_batch(batch)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__.rsplit("Usage: ", 1)[1])
    print(generate(sys.argv[1], int(sys.argv[2])))
