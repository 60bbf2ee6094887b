"""Packed state and partition-aligned shard keys for the
``applyInPandasWithState`` operators (t7, t17, s19, s21; t18 and t22
use the packing only).

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
from pyspark.sql import Column
from pyspark.sql import functions as F

# The state functions run inside UDF closures. Pickle them by value, so
# Python workers need not import this package (sessions built outside
# get_spark, driven from another cwd, cannot).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

STATE_SCHEMA = "blob binary"


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
