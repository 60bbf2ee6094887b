"""Packed binary state, partition-aligned shard keys, the partial-sum
fold and the map-side combiner of the stateful stream operators
(``streaming/shard_state.py``)."""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.oracle import canon_frame
from sparkstreaming_mq_spark.session import python_warm_up
from sparkstreaming_mq_spark.streaming.shard_state import (
    Combiner,
    hash_long,
    pack_state,
    partition_shard,
    shard_labels,
    sum_by_keys,
    unpack_state,
)

I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1


def _random_rows(rng, n: int, n_keys: int, n_values: int):
    """Int64 key columns drawn from a small pool (so keys repeat, and
    rows share a primary key with different secondaries), including
    negatives and both int64 extremes; small int64 values."""
    pool = np.array([I64_MIN, I64_MIN + 1, -7, -1, 0, 1, 3, I64_MAX - 1, I64_MAX])
    keys = [rng.choice(pool, n) for _ in range(n_keys)]
    values = [rng.integers(-1000, 1000, n, dtype=np.int64) for _ in range(n_values)]
    return keys, values


def _pandas_fold(keys, values):
    """The reference: ``groupby(keys).sum()`` and ``.size()``."""
    cols = {f"k{j}": k for j, k in enumerate(keys)}
    cols.update({f"v{j}": v for j, v in enumerate(values)})
    g = pd.DataFrame(cols).groupby([f"k{j}" for j in range(len(keys))], sort=True)
    size = g.size()
    idx = size.index.to_frame(index=False)
    sums = g[[f"v{j}" for j in range(len(values))]].sum() if values else None
    return (
        [idx[f"k{j}"].to_numpy(np.int64) for j in range(len(keys))],
        [sums[f"v{j}"].to_numpy(np.int64) for j in range(len(values))],
        size.to_numpy(np.int64),
    )


def _assert_fold_equal(got, want):
    (gk, gs, gc), (wk, ws, wc) = got, want
    assert [k.tolist() for k in gk] == [k.tolist() for k in wk]
    assert [v.tolist() for v in gs] == [v.tolist() for v in ws]
    assert gc.tolist() == wc.tolist()
    assert all(a.dtype == np.int64 for a in [*gk, *gs, gc])


@pytest.mark.parametrize("n_keys,n_values", [(1, 1), (2, 0), (2, 1), (2, 2), (3, 1)])
def test_sum_by_keys_matches_pandas_groupby(n_keys, n_values):
    rng = np.random.default_rng(n_keys * 10 + n_values)
    keys, values = _random_rows(rng, 5000, n_keys, n_values)
    _assert_fold_equal(sum_by_keys(keys, values), _pandas_fold(keys, values))


def test_sum_by_keys_empty_and_single_row():
    empty = np.empty(0, dtype=np.int64)
    (k1, k2), (s,), c = sum_by_keys((empty, empty), [empty])
    assert [len(k1), len(k2), len(s), len(c)] == [0, 0, 0, 0]
    one = [np.array([I64_MIN]), np.array([I64_MAX])]
    _assert_fold_equal(
        sum_by_keys(one, [np.array([-5])]),
        ([np.array([I64_MIN]), np.array([I64_MAX])], [np.array([-5])], np.array([1])),
    )


def test_combiner_refolds_past_its_bound_and_emits_once():
    rng = np.random.default_rng(7)
    batches = [_random_rows(rng, n, 2, 1) for n in (40, 0, 1, 25, 60, 3)]
    keys = [np.concatenate([b[0][j] for b in batches]) for j in range(2)]
    values = [np.concatenate([b[1][0] for b in batches])]
    for bound, n_parts in ((20, 1), (10**9, 5)):
        comb = Combiner(bound=bound)
        for batch_keys, batch_values in batches:
            comb.add(batch_keys, batch_values)
        # past the bound every add re-folds the buffer into one part
        assert len(comb.parts) == n_parts
        _assert_fold_equal(comb.result(), _pandas_fold(keys, values))


def test_combiner_without_rows_emits_nothing():
    comb = Combiner(bound=4)
    assert comb.result() is None
    empty = np.empty(0, dtype=np.int64)
    comb.add((empty, empty), [empty])
    assert comb.result() is None
    comb.add((np.array([2, 2]), np.array([-1, -1])))
    (k1, k2), sums, counts = comb.result()
    assert (k1.tolist(), k2.tolist(), sums, counts.tolist()) == ([2], [-1], [], [2])


def test_pack_round_trips_int64_arrays():
    arrays = [[], [I64_MIN, -1, 0, 1, I64_MAX], [7], []]
    blob = pack_state(*arrays)
    assert len(blob) == 8 * (1 + len(arrays) + 6)
    got = unpack_state(blob)
    assert [a.dtype for a in got] == [np.dtype("<i8")] * len(arrays)
    assert [a.tolist() for a in got] == arrays
    assert [a.tolist() for a in unpack_state(bytearray(blob))] == arrays
    assert unpack_state(pack_state()) == []


def test_pack_keeps_float64_bit_patterns():
    vals = np.array([-0.0, 0.0, 1.5, -2.25e-308, 5e-324, np.inf, -np.inf, np.nan])
    ints = np.array([3, -4], dtype="int64")
    n, f, i = unpack_state(pack_state([len(vals)], vals, ints))
    assert n.tolist() == [len(vals)] and i.tolist() == [3, -4]
    assert f.tobytes() == vals.astype("<f8").tobytes()
    back = f.view("<f8")
    assert np.signbit(back[0]) and not np.signbit(back[1])
    assert np.isnan(back[-1])


def test_state_functions_unpickle_without_the_package(tmp_path):
    """UDF closures carry pack/unpack by value: a Python worker that cannot
    import this package (a session not built by get_spark, driven from
    another cwd) must still run them."""
    from pyspark import cloudpickle

    code = (
        "import pickle, sys; pack, unpack = pickle.loads(sys.stdin.buffer.read()); "
        "print(unpack(pack([5, 6], [-1.5]))[0].tolist())"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", code],
        input=cloudpickle.dumps((pack_state, unpack_state)),
        cwd=tmp_path,
        capture_output=True,
        check=True,
        timeout=60,
    )
    assert out.stdout.strip() == b"[5, 6]"


def test_hash_long_equals_spark_hash(spark):
    vals = [0, 1, -1, 42, -42, (1 << 31) - 1, -(1 << 31), 1 << 31, -(1 << 31) - 1,
            1 << 32, 123_456_789_012_345, -987_654_321_098, I64_MAX, I64_MIN,
            I64_MAX - 1, I64_MIN + 1]
    vals += list(range(-300, 300, 7))
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.hash("v").alias("h"))
        .collect()
    )
    assert len(rows) == len(vals)
    assert {r.v: hash_long(r.v) for r in rows} == {r.v: r.h for r in rows}


@pytest.mark.parametrize("n", [1, 2, 3, 4, 8, 32])
def test_partition_shard_puts_one_label_in_each_partition(spark, n):
    df = spark.range(-1000, 3000).withColumnRenamed("id", "user_id")
    pairs = (
        df.withColumn("shard", partition_shard("user_id", n))
        .repartition(n, "shard")
        .select(F.spark_partition_id().alias("p"), "shard")
        .distinct()
        .collect()
    )
    by_part: dict[int, set] = {}
    for r in pairs:
        by_part.setdefault(r.p, set()).add(r.shard)
    labels = shard_labels(n)
    assert by_part == {p: {labels[p]} for p in range(n)}


def _compiles(spark) -> int:
    python_warm_up()  # its job compiles classes of its own
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.mark.parametrize(
    "name",
    [
        "s21_stream_ewma",
        "t22_stream_heavy_hitters",
        "t7_stateful_sessionize",
        "t17_stream_attribution",
        "s14_stream_incremental_dedup",
    ],
)
def test_rerun_compiles_no_new_code(spark, sf_dir, name):
    """A stateful query re-planned with the same shape must hit Spark's
    codegen cache. Array-typed state columns made the state encoder's
    ``MapObjects`` lambda name differ per plan, so every micro-batch of
    every run compiled again."""
    from sparkstreaming_mq_spark.streaming import queries

    fn = getattr(queries, name)
    fn(spark, sf_dir)
    before = _compiles(spark)
    fn(spark, sf_dir)
    assert _compiles(spark) - before == 0


def test_third_s21_run_compiles_no_generated_class(spark, sf_dir):
    """The driver's JIT threads stay busy on warm s21 passes, but not
    through Janino: every generated class is compiled by the first run
    (measurements/s21_warm_jit_probe.json)."""
    from sparkstreaming_mq_spark.streaming import queries

    for _ in range(2):
        queries.s21_stream_ewma(spark, sf_dir)
    before = _compiles(spark)
    queries.s21_stream_ewma(spark, sf_dir)
    assert _compiles(spark) - before == 0


def _digest(pdf: pd.DataFrame) -> str:
    return hashlib.sha256(repr(canon_frame(pdf)).encode()).hexdigest()


@pytest.mark.parametrize(
    "name,parts",
    [
        pytest.param("s21_stream_ewma", None, id="s21_stream_ewma"),
        # the test scale sizes s21 to one state partition, which has a
        # single shard label; three make the frozen labels matter
        pytest.param("s21_stream_ewma", 3, id="s21_stream_ewma-3parts"),
        pytest.param("t7_stateful_sessionize", None, id="t7_stateful_sessionize"),
        pytest.param("t17_stream_attribution", None, id="t17_stream_attribution"),
        pytest.param("t22_stream_heavy_hitters", None, id="t22_stream_heavy_hitters"),
    ],
)
def test_resumes_from_its_checkpoint(spark, sf_dir, monkeypatch, tmp_path, name, parts):
    """The query over the first two replay chunks, then over all four
    from the same checkpoint (the s9_checkpoint_recovery pattern): the
    packed state the first run wrote must read back — under the shard
    labels of the partition count frozen into the checkpoint — so that
    the two outputs together equal one uninterrupted run. The memory
    sink cannot restart from a checkpoint, so the two runs deliver
    through foreachBatch."""
    from sparkstreaming_mq_spark.streaming import queries, sources

    if parts is not None:
        monkeypatch.setattr(queries, "input_sized_partitions", lambda *_: parts)
    fn = getattr(queries, name)
    whole = fn(spark, sf_dir).toPandas()

    chunks = sources.chunked_events_dir(sf_dir, n_chunks=4, order="time")
    names = sorted(n for n in os.listdir(chunks) if n.startswith("chunk_"))
    assert len(names) == 4
    live, ckpt = tmp_path / "live", str(tmp_path / "ckpt")
    n_batches: list[int] = []

    def run_to_batches(df, mode, state_partitions=None):
        assert parts in (None, state_partitions)
        batches = []
        with sources._stream_partitions(spark, state_partitions):
            (
                df.writeStream.foreachBatch(lambda b, _epoch: batches.append(b.toPandas()))
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        n_batches.append(len(batches))
        return spark.createDataFrame(pd.concat(batches, ignore_index=True), df.schema)

    monkeypatch.setattr(sources, "chunked_events_dir", lambda *a, **k: str(live))
    monkeypatch.setattr(queries, "run_stream_to_table", run_to_batches)
    outputs = []
    for run in (names[:2], names[2:]):
        for n in run:
            shutil.copytree(os.path.join(chunks, n), live / n)  # keeps the mtimes
        outputs.append(fn(spark, sf_dir).toPandas())

    assert n_batches == [2, 2]
    assert all(len(out) for out in outputs)
    assert _digest(pd.concat(outputs, ignore_index=True)) == _digest(whole)


@pytest.mark.parametrize(
    "events,per_partition,want",
    [
        (1_000, 25_000, 1),
        (1_000, 12_500, 1),
        (10_000, 25_000, 1),
        (10_000, 12_500, 1),
        (100_000, 25_000, 4),  # s21 at sf0.1
        (100_000, 12_500, 8),  # s19 at sf0.1
        (1_000_000, 25_000, 32),  # the 10x corpus
        (1_000_000, 12_500, 32),
    ],
)
def test_input_sized_partitions(monkeypatch, events, per_partition, want):
    from sparkstreaming_mq_spark.streaming import sources

    seen = []

    def rowcount(sf_dir, name):
        seen.append((sf_dir, name))
        return events

    monkeypatch.setattr(sources, "table_rowcount", rowcount)
    assert sources.input_sized_partitions("fixture", per_partition) == want
    assert seen == [("fixture", "events")]


def _node_names(plan) -> list[str]:
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _node_names(children.apply(i))
    return names


def test_s21_runs_one_python_node(spark, sf_dir, monkeypatch):
    """s21's stream has no Python stage before its stateful operator:
    the hour and micro-unit columns are Catalyst expressions."""
    from sparkstreaming_mq_spark.streaming import queries

    captured = []
    monkeypatch.setattr(
        queries, "run_stream_to_table", lambda df, *a, **k: captured.append(df)
    )
    queries.s21_stream_ewma(spark, sf_dir)
    (df,) = captured
    names = _node_names(df._jdf.queryExecution().analyzed())
    python = [n for n in names if any(w in n for w in ("Python", "Pandas", "Arrow"))]
    assert python == ["FlatMapGroupsInPandasWithState"]
    assert "MapInPandas" not in names


def _checkpoint_dirs() -> set[str]:
    prefixes = ("sparkgraft_ckpt_", "sparkgraft_live_", "sparkgraft_recov_ckpt_")
    return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith(prefixes)}


@pytest.mark.parametrize(
    "name",
    [
        "s21_stream_ewma",
        "s2_rate_source",
        "t10_stream_progress",
        "t13_state_inspect",
        "s9_checkpoint_recovery",
    ],
)
def test_stream_runs_leave_no_checkpoint(spark, sf_dir, name):
    """A stream run deletes the checkpoint it created."""
    from sparkstreaming_mq_spark.streaming import queries

    before = _checkpoint_dirs()
    assert getattr(queries, name)(spark, sf_dir).count() > 0
    assert _checkpoint_dirs() - before == set()
