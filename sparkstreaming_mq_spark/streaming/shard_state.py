"""One idiom for the stateful stream operators: shard-keyed packed
state, one partial-sum fold and one map-side combiner.

Which operator uses which helper:

- ``sharded_state`` runs all seven ``applyInPandasWithState`` operators
  (t7, s14, t17, s19, t18, t22, s21). Each operator keeps only its
  ``step`` state machine.
- ``partition_shard`` keys t7, s14, t17, s19 and s21. t18 is keyed by
  week and t22 by ``user_id % T22_SHARDS`` (its oracle encodes that key).
- ``sum_by_keys`` is the one "lexsort on int64 keys, run starts,
  ``np.add.reduceat``" fold: the in-step folds of s19/t22/s21, a18's
  pair buffer and l49's pair slices.
- ``Combiner`` is the map-side combine that Spark does not give a
  stateful operator. Its users are s19, t22 and l49: s19 and t22
  pre-sum their partitions before the state exchange, and l49 folds its
  pair slices with it.

The ``step`` contract: ``step(key, state, pdf) -> (new_state, out)``.
``key`` is the grouping-key tuple. ``state`` is the list of int64
arrays of the group's last ``pack_state`` (float64 arrays as bit
patterns), or None on the group's first batch. ``pdf`` holds the
group's rows of this micro-batch: its Arrow chunks concatenated BEFORE
the sort on ``sort`` (a per-chunk sort lets a user's events move
backward across chunk boundaries once a group's batch exceeds
``arrow.maxRecordsPerBatch``). ``new_state`` is the arrays to pack;
``out`` is row tuples or a dict of columns, in ``out_schema`` order.

State is ONE ``binary`` column of little-endian int64: a header (the
array count, then each array's length) followed by the values; float64
arrays are stored by bit pattern. Spark builds the encoder of an
array-typed state column with ``MapObjects``, whose lambda variable
name comes from a global counter, so every re-planned micro-batch
missed the codegen cache and paid a Janino compile; a binary column
compiles once.

Every state group pays its own Arrow-to-pandas conversion, state
pickle round trip and state-store get/put per micro-batch, so keying by
user cost that per user (~15k groups at sf0.1). Operators whose state
machine is per user therefore group by ``partition_shard(user_id, n)``:
exactly one group per state partition, holding all of its users, and
which group a user lands in does not change the output.

INVARIANT: the shard labels and the run's state-partition count come
from the same value ``n``, and both are frozen into the checkpoint —
Spark fixes the partition count at the first run, and the labels are a
function of it (and of Spark's Murmur3 partitioning hash, which Spark
cannot change without breaking every existing state checkpoint).
"""

from __future__ import annotations

import sys
from functools import cache

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The state functions run inside UDF closures. Pickle them by value, so
# Python workers need not import this package (sessions built outside
# get_spark, driven from another cwd, cannot).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

STATE_SCHEMA = "blob binary"
COMBINE_AT = 2_000_000  # buffered partial rows before a Combiner re-folds


def pack_state(*arrays) -> bytes:
    """Pack int64/float64 arrays (or lists) into one state blob."""
    parts = []
    for a in map(np.asarray, arrays):
        parts.append(a.astype("<f8").view("<i8") if a.dtype.kind == "f" else a.astype("<i8"))
    header = np.array([len(parts), *map(len, parts)], dtype="<i8")
    return np.concatenate([header, *parts]).tobytes()


def unpack_state(blob) -> list[np.ndarray]:
    """The int64 arrays of ``pack_state``, in order; float64 arrays come
    back as their bit patterns (``.view("<f8")`` restores them)."""
    buf = np.frombuffer(blob, dtype="<i8")
    lengths = buf[1 : 1 + int(buf[0])].tolist()
    arrays, pos = [], 1 + len(lengths)
    for n in lengths:
        arrays.append(buf[pos : pos + n])
        pos += n
    return arrays


_M32 = 0xFFFFFFFF


def _mix_k1(k: int) -> int:
    k = (k * 0xCC9E2D51) & _M32
    k = ((k << 15) | (k >> 17)) & _M32
    return (k * 0x1B873593) & _M32


def _mix_h1(h: int, k: int) -> int:
    h ^= k
    h = ((h << 13) | (h >> 19)) & _M32
    return (h * 5 + 0xE6546B64) & _M32


def hash_long(v: int) -> int:
    """Spark's ``Murmur3_x86_32.hashLong`` with seed 42 (``F.hash`` of a
    long column, and the hash of ``HashPartitioning``), as a signed
    32-bit int."""
    v &= 0xFFFFFFFFFFFFFFFF
    h = _mix_h1(_mix_h1(42, _mix_k1(v & _M32)), _mix_k1(v >> 32))
    h ^= 8  # fmix over the 8-byte input
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@cache
def shard_labels(n: int) -> tuple[int, ...]:
    """``labels[k]`` = the smallest non-negative long that
    ``HashPartitioning(_, n)`` sends to partition ``k``."""
    labels: list[int | None] = [None] * n
    v = 0
    while None in labels:
        k = hash_long(v) % n  # Python % of a positive n is pmod
        if labels[k] is None:
            labels[k] = v
        v += 1
    return tuple(labels)


def partition_shard(col, n: int) -> Column:
    """A long shard key with exactly one value per partition of an
    ``n``-way hash exchange: ``labels[pmod(col, n)]``."""
    labels = F.array(*[F.lit(v).cast("long") for v in shard_labels(n)])
    return labels[F.pmod(col, F.lit(n)).cast("int")]


def sharded_state(
    df: DataFrame,
    key_col: str,
    out_schema: str,
    step,
    sort: list[str] | None = None,
    mode: str = "append",
) -> DataFrame:
    """``df.groupBy(key_col).applyInPandasWithState`` over packed state,
    with ``step`` as the state machine (the contract is in the module
    docstring). ``out_schema`` is a flat DDL string."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    names = [c.split()[0] for c in out_schema.split(",")]

    def run(key, pdf_iter, state):
        import pandas as pd

        chunks = list(pdf_iter)
        if not chunks:
            return
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        if sort:
            pdf = pdf.sort_values(sort)
        old = unpack_state(state.get[0]) if state.exists else None
        new, out = step(key, old, pdf)
        state.update((pack_state(*new),))
        out = pd.DataFrame(out, columns=names)
        if len(out):
            yield out

    return df.groupBy(key_col).applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sum_by_keys(keys, values=()):
    """Fold rows that share a key tuple. ``keys`` are equal-length int64
    arrays, the first the primary sort key; ``values`` are integer arrays
    to sum. Returns the unique key tuples in ascending order (a list of
    arrays), the per-key int64 sums of each ``values`` array, and the
    per-key row counts."""
    order = np.lexsort(keys[::-1])
    keys = [k[order] for k in keys]
    run_start = np.zeros(len(order), dtype=bool)
    run_start[:1] = True
    for k in keys:
        run_start[1:] |= k[1:] != k[:-1]
    starts = np.flatnonzero(run_start)
    sums = [np.add.reduceat(v[order], starts).astype(np.int64, copy=False) for v in values]
    return [k[starts] for k in keys], sums, np.diff(np.append(starts, len(order)))


class Combiner:
    """Per-partition partial sums. ``add`` folds one batch with
    ``sum_by_keys`` and buffers the partials; whenever more than
    ``bound`` partial rows are buffered they are re-folded, so memory
    stays O(distinct keys of the partition). ``result`` is the
    partition's ``(keys, sums, counts)``, counts summed over the raw
    rows, or None when no row was added: a partition emits once, so the
    state exchange moves O(partitions x keys) rows, never O(events) and
    never x Arrow-batch count."""

    def __init__(self, bound: int = COMBINE_AT):
        self.bound = bound
        self.parts: list[tuple[list, list]] = []  # (keys, [*sums, counts])
        self.rows = 0

    def add(self, keys, values=()) -> None:
        if not len(keys[0]):
            return
        uk, sums, counts = sum_by_keys(keys, values)
        self.parts.append((uk, [*sums, counts]))
        self.rows += len(counts)
        if self.rows > self.bound:
            self.parts = [self._fold()]
            self.rows = len(self.parts[0][0][0])

    def _fold(self) -> tuple[list, list]:
        if len(self.parts) == 1:
            return self.parts[0]
        keys, sums = ([np.concatenate(c) for c in zip(*cols)] for cols in zip(*self.parts))
        uk, sums, _ = sum_by_keys(keys, sums)
        return uk, sums

    def result(self):
        if not self.parts:
            return None
        keys, sums = self._fold()
        return keys, sums[:-1], sums[-1]
