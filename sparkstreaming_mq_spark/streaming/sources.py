"""Streaming sources/sinks and deterministic replay utilities.

The MQ ingestion path (SURVEY.md §2.1 S1/S2/S8) with an offline
file-replay substitute: ``events.parquet`` replayed through Spark's
file stream source — optionally split into ordered or interleaved
chunk files so multi-micro-batch behavior (watermark advancement,
late-data drops) is reproducible (SURVEY.md §5.3). The chunk files
stand in for a queue's existing log, so they are built once per
fixture generation in the driver: one Arrow read, sort and split
(``_replay_chunks_dir``), no Spark job.

Scale notes: the file source checkpoints file offsets exactly like the
kafka source checkpoints partition offsets, so every downstream
operator behaves identically on a real queue; ``maxFilesPerTrigger``
plays the role of ``maxOffsetsPerTrigger`` for bounded micro-batches.
"""

from __future__ import annotations

import atexit
import json
import math
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sparkstreaming_mq_spark.session import apply_runtime_conf
from sparkstreaming_mq_spark.tables import cache_key, load_table_arrow, table_rowcount

# Schema of the materialized replay files: ``tables.load_table_arrow``
# has already shaped the fixture's ts as a µs UTC timestamp before the
# chunks are written, so the stream sees a proper event-time column
# directly.
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


# Replay-cache version: bump whenever the chunks' column shaping
# (``tables.load_table_arrow``, which mirrors ``load_table``; e.g. the
# ns→µs conversion) changes, so stale /tmp caches from an older code
# version can never feed a replay (a v1→v2 off-by-one-µs bite: the float
# ns division fix made cached chunks disagree with fresh batch loads).
# v3: events.ts normalized NTZ→LTZ (fixture regenerated as µs NTZ).
# v5, v6: chunks written by one partitioned Spark job (explicit mtime
# spacing; v6 pinned the writer's within-chunk sort).
# v7: chunks built in the driver with Arrow (``_replay_chunks_dir``)
# instead of four Spark jobs; same rows per chunk in the same file
# order, but ts is stored as µs UTC instead of Spark's INT96.
_CACHE_VERSION = 7


def _replay_chunks_dir(
    sf_dir: str,
    name: str,
    layout: str,
    n_chunks: int,
    sort_cols: list[str],
    mod_col: str | None,
) -> str:
    """Materialize fixture table ``name`` as ``n_chunks`` replay files
    ``chunk_k/part-00000.parquet`` under /tmp, cached per (fixture
    generation, n, layout); returns the directory. Each file's rows are
    in ascending ``sort_cols`` order, nulls first as Spark sorts
    (replay order feeds the microbatch-mechanics oracles: t6/t8/t10,
    full-replay dedup).

    Chunk k holds the rows whose ``mod_col`` is k mod ``n_chunks``
    (``pmod``), or, with ``mod_col`` None, the k-th
    ``ntile(n_chunks) OVER (ORDER BY sort_cols)``: the first N % n
    chunks take ⌈N/n⌉ rows, the rest ⌊N/n⌋. No chunk may be empty:
    an empty chunk would change the micro-batch count. File mtimes are
    set 10 s apart in chunk order, since the file stream source replays
    oldest-first and write-order mtimes could collide at ms resolution.
    """
    import time

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = f"{cache_key(sf_dir, name)}_{n_chunks}_{layout}_v{_CACHE_VERSION}"
    out = os.path.join(tempfile.gettempdir(), "sparkgraft_replay", key)
    done = os.path.join(out, "_READY")
    if os.path.exists(done):
        return out
    table = load_table_arrow(sf_dir, name)
    keys = [(c, "ascending") for c in sort_cols]
    table = table.take(pc.sort_indices(table, keys, null_placement="at_start"))
    if mod_col is None:
        small, n_big = divmod(table.num_rows, n_chunks)
        sizes = [small + 1] * n_big + [small] * (n_chunks - n_big)
        labels = np.repeat(np.arange(n_chunks), sizes)
    else:
        labels = np.mod(table.column(mod_col).to_numpy(), n_chunks)
    base_t = time.time()
    for k in range(n_chunks):
        chunk = table.filter(labels == k)
        if chunk.num_rows == 0:
            raise ValueError(
                f"replay chunk {k} of {n_chunks} is empty "
                "(an empty chunk would change the micro-batch count)"
            )
        chunk_dir = os.path.join(out, f"chunk_{k:03d}")
        os.makedirs(chunk_dir, exist_ok=True)
        # keep the part-*.parquet convention: the MQReplay Python
        # DataSource readers glob for it inside each chunk dir
        dst = os.path.join(chunk_dir, "part-00000.parquet")
        # dictionary pages only pay for columns with repeats; all-distinct
        # ones (event_id, value, doc text) are smaller PLAIN, as Spark writes them
        repeated = [c for c in chunk.column_names if pc.count_distinct(chunk[c]).as_py() < chunk.num_rows]
        pq.write_table(chunk, dst, store_schema=False, use_dictionary=repeated)
        os.utime(dst, (base_t + 10 * k, base_t + 10 * k))
    open(done, "w").close()
    return out


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 substitute: unbounded DataFrame replaying events.parquet
    through the file stream source (single replay file → single
    micro-batch under Trigger.AvailableNow). The file source requires a
    *directory*, so the event file is materialized once into a replay
    dir (read-only testdata is never touched)."""
    return read_events_stream_chunked(spark, sf_dir, n_chunks=1, order="time")


def chunked_events_dir(sf_dir: str, n_chunks: int = 4, order: str = "time") -> str:
    """Materialize events.parquet as ``n_chunks`` replay files under
    /tmp (cached per (sf, n, order)).

    order='time': chunk k holds the k-th time range → in-order replay,
    watermark advances monotonically between micro-batches.
    order='hash': chunk k holds the rows with event_id mod n == k →
    every chunk spans the full time range, so later chunks deliver
    events far behind the watermark — the deterministic late-data
    scenario. event_id mod n, NOT a hash: the same full-time-range
    interleave per chunk (ids are uncorrelated enough with ts), but
    expressible in ANSI SQL, which is what lets t6's watermark-drop
    replay carry a value-exact DuckDB oracle.
    """
    mod_col = None if order == "time" else "event_id"
    return _replay_chunks_dir(
        sf_dir, "events", order, n_chunks, ["ts", "event_id"], mod_col
    )


def read_events_stream_chunked(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    order: str = "time",
) -> DataFrame:
    """Multi-micro-batch replay: one chunk file per trigger."""
    apply_runtime_conf(spark)
    base = chunked_events_dir(sf_dir, n_chunks, order)
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(f"{base}/chunk_*")
    )


DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_docs_stream_chunked(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Documents replayed as an incoming-crawl stream, one chunk file
    per micro-batch (chunk k holds doc_id mod n == k, ordered by doc_id
    — arrival order is irrelevant to the stateless decontamination
    join)."""
    apply_runtime_conf(spark)
    out = _replay_chunks_dir(
        sf_dir, "documents", "docs", n_chunks, ["doc_id"], "doc_id"
    )
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(f"{out}/chunk_*")
    )


# State-store partition count for local finite replays: each stateful
# partition pays per-micro-batch store open/commit/checkpoint overhead,
# which dominates at test scale (r3 ladder at sf0.1: 32 partitions x 4
# batches spent more time in store maintenance than in data; 8 → 1.87s,
# 4 → 1.39s, 2 → 1.23s warm for the tumbling agg; r4 re-measure with
# noop materialization confirmed 2 beats 4 by ~15-20% on both s1 and
# t2 with identical results). A real cluster sizes this to its
# parallelism BEFORE the first run (the count is frozen into the
# checkpoint) — 2 is the local[32] fixture profile, not a scale claim.
# The s1/t2 ladder is JVM-only, so the per-Python-task zipimport tax
# that pydaemon removes never touched it. The applyInPandasWithState
# operators that keep this default were re-measured without that tax
# (sf0.01, 4 vCPUs, warm medians of 4, 2 vs 4 partitions): t7 2.30 vs
# 2.45 s, s14 1.70 vs 1.85 s, t17 1.58 vs 1.57 s, t22 1.76 vs 2.07 s.
# Re-measured once checkpoint files stopped forking chmod/readlink per
# file (session.NIO_LOCAL_FS_KEY), same protocol: t2 1.02 vs 1.07 s,
# t7 2.32 vs 2.32 s, s14 2.20 vs 2.20 s, t17 1.94 vs 1.68 s, t22 1.33
# vs 1.59 s. 2 still wins or ties except on t17.
STREAM_SHUFFLE_PARTITIONS = 2


# State-partition count for the stateful operators whose state work
# grows with the input (s19's generated grid, s21's per-user hours):
# one partition per ``events_per_partition`` events, at most 32, with
# no floor. Every state partition is one stateful task per micro-batch,
# and each such task costs ~35 ms of JVM CPU (codegen, state store
# open/commit, task serde) whatever its row count: a warm s21 run at
# sf0.01 (10k events, 4 micro-batches, 4 vCPUs) used 1.48 / 1.59 /
# 1.89 / 2.48 s of JVM CPU on 1 / 2 / 4 / 8 partitions (medians of 6).
# At scale the data dominates and wider wins (fresh-session mins: s21
# at sf0.1 2p 11.1 s, 4p 8.6 s, 8p 11.7 s, and at the 10x corpus
# 2p 36.7 s, 32p 14.9 s; s19 at the 10x corpus 2p 112 s, 8p 33 s,
# 32p 16 s, and at sf0.1 8-16p 8.4-16.2 s against 32p 19.6-35.8 s).
# s21's target of 25k and s19's 12.5k events per partition keep sf0.1
# at 4 and 8 and the 10x corpus at 32. A real cluster sizes this to its
# parallelism before the first run: the count is frozen into the
# checkpoint.
def input_sized_partitions(sf_dir: str, events_per_partition: int) -> int:
    events = table_rowcount(sf_dir, "events")
    return min(32, max(1, math.ceil(events / events_per_partition)))


class _stream_partitions:
    """Temporarily pin spark.sql.shuffle.partitions for a streaming
    run (the stateful operator freezes the value at query start)."""

    def __init__(self, spark: SparkSession, n: int | None = None):
        self.spark = spark
        # None -> the tiny-state fixture profile; s19 and s21 pass
        # input_sized_partitions
        self.n = STREAM_SHUFFLE_PARTITIONS if n is None else n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_output_dir(prefix: str) -> str:
    """A fresh temp directory for a query's output that the returned
    DataFrame reads lazily, so it cannot be removed when the query
    returns; it is removed when the interpreter exits instead."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# ``recentProgress`` of the last stream run in this process, one dict
# per trigger (``StreamingQueryProgress`` JSON), replaced by each run;
# profiling reads it to attribute a stream query's triggers and state
# commits.
LAST_PROGRESS: list[dict] = []


def _await_then_drop_checkpoint(q, ckpt: str, owned: bool) -> None:
    """Wait for an AvailableNow query to drain, keep its progress in
    ``LAST_PROGRESS``, then delete its checkpoint directory if the
    caller did not supply it."""
    global LAST_PROGRESS
    try:
        q.awaitTermination()
        LAST_PROGRESS = [json.loads(p.json) for p in q.recentProgress]
    finally:
        if owned:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_stream_to_table(
    stream_df: DataFrame,
    output_mode: str = "append",
    checkpoint: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion with
    Trigger.AvailableNow into a memory sink (S5) and return the result
    as a batch DataFrame. Checkpoint directory (S9) gives the run the
    same offset/commit WAL a production query has; pass ``checkpoint``
    to use a known location (e.g. for post-run state inspection) — a
    checkpoint this function creates is deleted once the run ends.
    ``state_partitions`` overrides the tiny-state fixture profile for
    operators whose state work is input-sized (``input_sized_partitions``)
    — None keeps the measured 2-partition local default.

    The memory sink keeps the query's whole output on the driver, and
    a job that scans the returned ``spark.table(name)`` ships those rows
    to the executors inside its tasks: s21 at sf0.1 (94k output rows)
    logs "task of very large size (1318 KiB)" for the stage of a
    ``count()`` after the drain, and for none of the micro-batches."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint or tempfile.mkdtemp(prefix="sparkgraft_ckpt_")
    with _stream_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_then_drop_checkpoint(q, ckpt, checkpoint is None)
    return spark.table(name)


def run_stream_to_parquet(stream_df: DataFrame, path: str | None = None) -> str:
    """S6 file sink: append-mode parquet delivery with checkpoint;
    returns the output path (the checkpoint is deleted once the run
    ends, an output directory made here at interpreter exit)."""
    path = path or run_output_dir("sparkgraft_out_")
    ckpt = tempfile.mkdtemp(prefix="sparkgraft_ckpt_")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_then_drop_checkpoint(q, ckpt, True)
    return path


def run_stream_foreach_batch(stream_df: DataFrame, fn) -> None:
    """S7 external-delivery sink: per-micro-batch callback
    ``fn(batch_df, epoch_id)`` — the idempotent-upsert extension point
    (batch_df is a normal DataFrame; epoch_id keys retries)."""
    ckpt = tempfile.mkdtemp(prefix="sparkgraft_ckpt_")
    q = (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_then_drop_checkpoint(q, ckpt, True)


# --- Kafka connector builders (S1/S8 proper; need kafka jars on the cluster) --

KAFKA_ENVELOPE_COLS = ("key", "value", "topic", "partition", "offset", "timestamp")


def kafka_reader(
    spark: SparkSession,
    brokers: str,
    subscribe: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
):
    """Build the real MQ source (SURVEY.md §2.1 S1): kafka envelope
    records (key/value binary + topic/partition/offset/timestamp).
    Offline container has no kafka connector jars, so callers must be
    on a cluster that ships spark-sql-kafka; everything downstream of
    the returned reader is identical to the file-replay path."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", subscribe)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader


def kafka_writer(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """S8 MQ sink: produce (key, value) back to a topic."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


# --- S12: custom Python data source (Spark 4 DataSource API) ------------------

try:  # pyspark.sql.datasource exists in Spark 4; guard for older runtimes
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class MQReplayDataSource(DataSource):
        """A from-scratch connector on Spark 4's Python DataSource API
        that presents the replay directory as a **message-queue
        envelope** source: every record is (topic, part_id, offset,
        ts, key, value) with the payload kept as an opaque JSON string
        — byte-for-byte the kafka source's contract, minus the jars
        this container lacks. One InputPartition per chunk file — the
        planner schedules chunks in parallel exactly as it schedules
        kafka topic-partitions, and each partition streams
        Arrow RecordBatches (zero row-at-a-time Python).
        """

        @classmethod
        def name(cls) -> str:
            return "mqreplay"

        def schema(self) -> str:
            return (
                "topic string, part_id int, offset bigint, "
                "ts timestamp, key string, value string"
            )

        def reader(self, schema):  # noqa: ANN001 - API signature
            return _MQReplayReader(self.options)

    class _MQReplayReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")
            self.topic = options.get("topic", "events")

        def partitions(self):
            import glob

            chunks = sorted(glob.glob(os.path.join(self.path, "chunk_*")))
            return [InputPartition((i, c)) for i, c in enumerate(chunks)]

        def _pq_filters(self):
            """Parquet-level predicate for the chunk reads; the base
            reader pushes nothing (None). The pushdown subclass returns
            the offset bounds it accepted in ``pushFilters`` so the
            row-group statistics can skip I/O at the source."""
            return None

        def read(self, partition):
            import glob

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            idx, chunk = partition.value
            for f in sorted(glob.glob(os.path.join(chunk, "part-*.parquet"))):
                # the chunk files store ts as µs UTC, the precision
                # Arrow interchange into Spark requires
                t = pq.read_table(
                    f, columns=["event_id", "ts", "props"], filters=self._pq_filters()
                )
                n = t.num_rows
                yield pa.record_batch(
                    [
                        pa.array([self.topic] * n, pa.string()),
                        pa.array([idx] * n, pa.int32()),
                        t.column("event_id").combine_chunks(),
                        t.column("ts").combine_chunks(),
                        pc.cast(t.column("event_id"), pa.string()).combine_chunks(),
                        t.column("props").combine_chunks(),
                    ],
                    names=["topic", "part_id", "offset", "ts", "key", "value"],
                )

    class MQPushdownDataSource(DataSource):
        """The pushdown-capable variant of ``MQReplayDataSource``
        (Spark 4.1 Python DataSource filter pushdown,
        ``spark.sql.python.filterPushdown.enabled``): the reader
        ACCEPTS EqualTo(part_id) — the kafka assign()/seek analogy,
        pruning whole queue partitions at PLANNING time — and
        GreaterThanOrEqual/LessThan on ``offset``, which it lowers to
        parquet row-group predicates inside the chunk reads; every
        other filter is returned to Spark unhandled. Connector-level
        pruning is what keeps a 100 TB backlog scan from touching
        every partition when the consumer only needs one."""

        @classmethod
        def name(cls) -> str:
            return "mqreplay_pushdown"

        def schema(self) -> str:
            return (
                "topic string, part_id int, offset bigint, "
                "ts timestamp, key string, value string"
            )

        def reader(self, schema):  # noqa: ANN001 - API signature
            return _MQPushdownReader(self.options)

    class _MQPushdownReader(_MQReplayReader):
        def __init__(self, options):
            super().__init__(options)
            self.part_eq: int | None = None
            self.min_offset: int | None = None  # offset >= min_offset
            self.max_offset: int | None = None  # offset <  max_offset

        def pushFilters(self, filters):
            from pyspark.sql.datasource import (
                EqualTo,
                GreaterThanOrEqual,
                LessThan,
            )

            unhandled = []
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("part_id",):
                    self.part_eq = f.value
                elif isinstance(f, GreaterThanOrEqual) and f.attribute == ("offset",):
                    v = int(f.value)
                    if self.min_offset is None or v > self.min_offset:
                        self.min_offset = v
                elif isinstance(f, LessThan) and f.attribute == ("offset",):
                    v = int(f.value)
                    if self.max_offset is None or v < self.max_offset:
                        self.max_offset = v
                else:
                    unhandled.append(f)
            return unhandled

        def partitions(self):
            parts = super().partitions()
            if self.part_eq is not None:
                parts = [p for p in parts if p.value[0] == self.part_eq]
            if not parts:
                # An empty partition list makes Spark schedule one task
                # with partition=None (measured: read(None) crashed on a
                # no-match part_id) — hand the planner a zero-row
                # sentinel instead.
                parts = [InputPartition((self.part_eq, None))]
            return parts

        def read(self, partition):
            if partition.value[1] is None:  # the no-match sentinel
                return
            yield from super().read(partition)

        def _pq_filters(self):
            conds = []
            if self.min_offset is not None:
                conds.append(("event_id", ">=", self.min_offset))
            if self.max_offset is not None:
                conds.append(("event_id", "<", self.max_offset))
            return conds or None

except ImportError:  # pragma: no cover
    MQReplayDataSource = None  # type: ignore[assignment]
    MQPushdownDataSource = None  # type: ignore[assignment]


def make_mq_stream_datasource():
    """Build the streaming MQ DataSource class ON DEMAND, inside a
    function, so cloudpickle serializes it BY VALUE: the streaming
    reader is planned in a separate python process that does NOT see
    ``addPyFile`` artifacts (unlike task workers), so a module-level
    class — pickled by reference — would need this package on that
    process's PYTHONPATH. A function-local class has no importable
    module path and ships whole. Raises ImportError below Spark 4."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _MQReplayStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.path = options.get("path")

        def initialOffset(self):
            return {"chunk": 0}

        def _chunks(self):
            import glob
            import os

            return sorted(glob.glob(os.path.join(self.path, "chunk_*")))

        def _rows(self, lo: int, hi: int):
            import glob
            import os

            import pyarrow.parquet as pq

            chunks = self._chunks()
            for i in range(lo, min(hi, len(chunks))):
                for f in sorted(
                    glob.glob(os.path.join(chunks[i], "part-*.parquet"))
                ):
                    t = pq.read_table(
                        f, columns=["event_id", "ts", "event_type", "value"]
                    )
                    yield from zip(
                        [i] * t.num_rows,
                        t.column("event_id").to_pylist(),
                        t.column("ts").to_pylist(),
                        t.column("event_type").to_pylist(),
                        t.column("value").to_pylist(),
                    )

        def read(self, start):
            lo = start["chunk"]
            hi = len(self._chunks())
            if lo >= hi:
                return iter([]), start
            # list-backed iterator: the engine's prefetch cache
            # copy.copy()s it, which a generator can't survive
            return iter(list(self._rows(lo, hi))), {"chunk": hi}

        def readBetweenOffsets(self, start, end):
            return iter(list(self._rows(start["chunk"], end["chunk"])))

    class MQReplayStreamDataSource(DataSource):
        """Streaming twin of ``MQReplayDataSource``: the same replay
        directory served through Spark 4's SimpleDataSourceStreamReader
        — a from-scratch streaming connector with REAL offset
        management (initialOffset → read → commit, persisted in the
        checkpoint WAL exactly like kafka consumer offsets). Offsets
        count whole chunks; a read drains every chunk currently on
        disk (Trigger.AvailableNow prefetches exactly one read), so
        the replay is deterministic and the offset log still records
        the consumed range end-to-end.
        """

        @classmethod
        def name(cls) -> str:
            return "mqreplay_stream"

        def schema(self) -> str:
            return (
                "part_id int, offset bigint, ts timestamp, "
                "event_type string, value double"
            )

        def simpleStreamReader(self, schema):  # noqa: ANN001 - API signature
            return _MQReplayStreamReader(self.options)

    return MQReplayStreamDataSource


try:  # batch-write side of the Python DataSource API (Spark 4)
    from dataclasses import dataclass

    from pyspark.sql.datasource import (  # noqa: F811 - same module
        DataSource as _DS,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _MQSinkCommit(WriterCommitMessage):
        path: str
        n: int

    class MQSinkDataSource(_DS):
        """S8 (MQ/kafka sink) as a from-scratch Python DataSource
        WRITER: each write task is a producer that appends its
        partition's envelope records to the broker as one JSON-lines
        segment, and delivery is TWO-PHASE — tasks write `*.tmp`
        segments and return commit messages; only the driver-side
        `commit()` renames them and publishes the manifest (an abort
        deletes the tmps), which is exactly the transactional-producer
        protocol a kafka sink runs (send → commitTransaction). The
        local filesystem stands in for the broker network — the
        task/commit topology is the real thing, the jars are not in
        this container."""

        @classmethod
        def name(cls) -> str:
            return "mqsink"

        def schema(self) -> str:
            return "topic string, key bigint, value string, htype string"

        def writer(self, schema, overwrite):  # noqa: ANN001 - API signature
            return _MQSinkWriter(self.options)

    class _MQSinkWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            import json
            import uuid

            data_dir = os.path.join(self.path, "data")
            os.makedirs(data_dir, exist_ok=True)
            tmp = os.path.join(data_dir, f"seg-{uuid.uuid4().hex}.jsonl.tmp")
            n = 0
            with open(tmp, "w") as f:
                for row in iterator:
                    f.write(
                        json.dumps(
                            {
                                "topic": row.topic,
                                "key": row.key,
                                "value": row.value,
                                "htype": row.htype,
                            },
                            sort_keys=True,
                        )
                        + "\n"
                    )
                    n += 1
            return _MQSinkCommit(tmp, n)

        def commit(self, messages):
            import glob as _glob
            import json

            final = []
            for m in messages:
                if m is None:
                    continue
                dst = m.path[: -len(".tmp")]
                os.replace(m.path, dst)
                final.append(os.path.basename(dst))
            # sweep orphan tmps from failed-then-retried task attempts:
            # abort() only runs on whole-job failure, so a successful
            # job must not leave a retried attempt's *.tmp in the
            # broker dir (only committed segments are data).
            for orphan in _glob.glob(os.path.join(self.path, "data", "*.tmp")):
                try:
                    os.remove(orphan)
                except OSError:
                    pass
            # manifest publish is atomic (tmp + rename) like the
            # segments themselves: a reader never sees a torn manifest.
            manifest = os.path.join(self.path, "_MANIFEST.json")
            with open(manifest + ".tmp", "w") as f:
                json.dump({"segments": sorted(final)}, f)
            os.replace(manifest + ".tmp", manifest)

        def abort(self, messages):
            for m in messages or []:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

except ImportError:  # pragma: no cover
    MQSinkDataSource = None  # type: ignore[assignment]


def ship_package(spark: SparkSession) -> None:
    """Make ``sparkstreaming_mq_spark`` importable on EXECUTOR python
    workers: Python DataSource classes are cloudpickled BY REFERENCE
    (unlike UDF closures), so workers must import this package — which
    fails when the driver process was launched outside the repo (the
    real harness does exactly that). Zip the package once per process
    (keyed by the package's content fingerprint, so a code edit always
    rebuilds) and ``addPyFile`` it; Spark distributes the zip and
    prepends it to every worker's sys.path — the same mechanism that
    deploys dependencies on a real cluster."""
    import hashlib
    import zipfile

    import sparkstreaming_mq_spark as pkg

    root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    pkg_fp = hashlib.md5()
    for dirpath, _dirs, files in sorted(
        os.walk(os.path.join(root, "sparkstreaming_mq_spark"))
    ):
        for f in sorted(files):
            if f.endswith(".py"):
                st = os.stat(os.path.join(dirpath, f))
                pkg_fp.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
    # zip name keyed by package content fingerprint: a stale zip after a
    # code edit would ship LAST session's classes to executors (the
    # CLAUDE.md stale-cache rule, applied to code instead of data)
    dst = os.path.join(
        tempfile.gettempdir(),
        "sparkgraft_pkg",
        f"sparkstreaming_mq_spark_{pkg_fp.hexdigest()[:12]}.zip",
    )
    if not os.path.exists(dst):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = dst + f".{uuid.uuid4().hex}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            pkg_dir = os.path.join(root, "sparkstreaming_mq_spark")
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, dst)
    spark.sparkContext.addPyFile(dst)
