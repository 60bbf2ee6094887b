"""The in-process local FileContext (``sparkstreaming_mq_spark/jvm/NioLocalFs.java``)
that ``get_spark`` installs for streaming checkpoints on local masters."""

from __future__ import annotations

import logging
import os
import shutil
from types import SimpleNamespace

from sparkstreaming_mq_spark import session

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
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    session.jvm_cache_dir.cache_clear()
    session.nio_local_fs_jar.cache_clear()
    try:
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            first = _built_conf(monkeypatch, master="local[2]")
            second = _built_conf(monkeypatch, master="local[2]")
    finally:
        session.jvm_cache_dir.cache_clear()
        session.nio_local_fs_jar.cache_clear()
    for conf in (first, second):
        assert session.NIO_LOCAL_FS_KEY not in conf
        assert "spark.driver.extraClassPath" not in conf
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert not list((tmp_path / "cache").rglob("*.jar"))

