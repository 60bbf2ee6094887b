"""The in-process local FileContext (``sparkstreaming_mq_spark/jvm/NioLocalFs.java``)
that ``get_spark`` installs for streaming checkpoints on local masters."""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
from types import SimpleNamespace

import pandas as pd

from sparkstreaming_mq_spark import session
from sparkstreaming_mq_spark.oracle import canon_frame

STOCK_LOCAL_FS = "org.apache.hadoop.fs.local.LocalFs"


def _processes_started() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


def _checkpoint_loop(spark, conf, root: str, n: int = 100) -> int:
    """The checkpoint manager's file pattern, ``n`` times: mkdir, create
    a temp file, rename it over a final name (nine in ten renames
    replace an existing file). Returns the processes started meanwhile."""
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    fs = jvm.org.apache.hadoop.fs
    fc = fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    flags = jvm.java.util.EnumSet.of(fs.CreateFlag.CREATE, fs.CreateFlag.OVERWRITE)
    opts = gw.new_array(fs.Options.CreateOpts, 0)
    overwrite = gw.new_array(fs.Options.Rename, 1)
    overwrite[0] = fs.Options.Rename.OVERWRITE
    dir_perm = fs.permission.FsPermission.getDirDefault()
    before = _processes_started()
    for i in range(n):
        fc.mkdir(fs.Path(f"{root}/d{i}"), dir_perm, True)
        tmp = fs.Path(f"{root}/d{i}/.f.tmp")
        out = fc.create(tmp, flags, opts)
        out.write(i)
        out.close()
        fc.rename(tmp, fs.Path(f"{root}/v{i % 10}"), overwrite)
    return _processes_started() - before


def _tree(root: str) -> list[tuple[str, int]]:
    return sorted(
        (os.path.relpath(os.path.join(d, n), root), os.lstat(os.path.join(d, n)).st_mode)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    )


def test_file_context_matches_stock_local_fs_without_spawning(spark, tmp_path):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.AbstractFileSystem.get(jvm.java.net.URI("file:///"), hconf)
    assert fs.getClass().getName() == session.NIO_LOCAL_FS_CLASS

    stock = jvm.org.apache.hadoop.conf.Configuration(hconf)
    stock.set("fs.AbstractFileSystem.file.impl", STOCK_LOCAL_FS)
    nio_spawns = _checkpoint_loop(spark, hconf, str(tmp_path / "nio"))
    stock_spawns = _checkpoint_loop(spark, stock, str(tmp_path / "stock"))

    tree = _tree(tmp_path / "nio")
    assert tree == _tree(tmp_path / "stock")
    assert sum(name.endswith(".crc") for name, _ in tree) == 10
    assert nio_spawns < 20, nio_spawns
    assert stock_spawns >= 300, stock_spawns


class _Builder:
    """Records what get_spark configures instead of starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(monkeypatch, **kw) -> dict[str, str]:
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    return session.get_spark(**kw)


def test_caller_classpath_is_joined_with_the_jar(monkeypatch):
    jar = session.nio_local_fs_jar()
    assert jar is not None and os.path.isfile(jar)
    conf = _built_conf(
        monkeypatch, master="local[2]", extra_conf={"spark.driver.extraClassPath": "/x/a.jar"}
    )
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["/x/a.jar", jar])
    assert conf[session.NIO_LOCAL_FS_KEY] == session.NIO_LOCAL_FS_CLASS

    cluster = _built_conf(monkeypatch, master="spark://host:7077")
    assert session.NIO_LOCAL_FS_KEY not in cluster
    assert "spark.driver.extraClassPath" not in cluster


def test_missing_javac_keeps_stock_local_fs_with_one_warning(monkeypatch, tmp_path, caplog):
    shutil.copy(os.path.join(session._JVM_DIR, "NioLocalFs.java"), tmp_path)
    monkeypatch.setattr(session, "_JVM_DIR", str(tmp_path))
    monkeypatch.setattr(session.shutil, "which", lambda _name: None)
    session.nio_local_fs_jar.cache_clear()
    try:
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            first = _built_conf(monkeypatch, master="local[2]")
            second = _built_conf(monkeypatch, master="local[2]")
    finally:
        session.nio_local_fs_jar.cache_clear()
    for conf in (first, second):
        assert session.NIO_LOCAL_FS_KEY not in conf
        assert "spark.driver.extraClassPath" not in conf
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert not (tmp_path / ".build").exists()


def _digest(pdf: pd.DataFrame) -> str:
    return hashlib.sha256(repr(canon_frame(pdf)).encode()).hexdigest()


def test_s21_resumes_from_its_checkpoint(spark, sf_dir, monkeypatch, tmp_path):
    """s21 over the first two replay chunks, then over all four from the
    same checkpoint (the s9_checkpoint_recovery pattern): the state
    deltas the first run wrote must read back so that the two outputs
    together equal one uninterrupted run. The memory sink cannot
    restart from a checkpoint, so the two runs deliver through
    foreachBatch."""
    from sparkstreaming_mq_spark.streaming import queries, sources

    whole = queries.s21_stream_ewma(spark, sf_dir).toPandas()

    chunks = sources.chunked_events_dir(spark, sf_dir, n_chunks=4, order="time")
    names = sorted(n for n in os.listdir(chunks) if n.startswith("chunk_"))
    assert len(names) == 4
    live, ckpt = tmp_path / "live", str(tmp_path / "ckpt")
    outputs: list[list[pd.DataFrame]] = []

    def run_to_batches(df, mode, state_partitions=None):
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
        outputs.append(batches)

    monkeypatch.setattr(sources, "chunked_events_dir", lambda *a, **k: str(live))
    monkeypatch.setattr(queries, "run_stream_to_table", run_to_batches)
    for run in (names[:2], names[2:]):
        for n in run:
            shutil.copytree(os.path.join(chunks, n), live / n)  # keeps the mtimes
        queries.s21_stream_ewma(spark, sf_dir)

    assert [len(batches) for batches in outputs] == [2, 2]
    assert all(sum(map(len, batches)) for batches in outputs)
    resumed = pd.concat([b for batches in outputs for b in batches], ignore_index=True)
    assert _digest(resumed) == _digest(whole)
