"""The class-data-sharing archive ``get_spark`` gives local driver JVMs:
dumped from the class list of the first session of its key, mapped by
the next ones, and left out whenever the caller's JVM options or Spark
conf dir rule it out."""

from __future__ import annotations

import logging
import os
import struct
import subprocess
import sys
from types import SimpleNamespace

import pytest

from sparkstreaming_mq_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_JAR = session.nio_local_fs_jar

_DRIVER = """
import os, sys
sys.path.insert(0, sys.argv[1])
from sparkstreaming_mq_spark.session import get_spark
opts = {"spark.driver.extraJavaOptions": sys.argv[2]} if len(sys.argv) > 2 else {}
spark = get_spark(app_name="cds-archive-test", shuffle_partitions=2, extra_conf=opts)
print("JVM_PID", spark.sparkContext._gateway.proc.pid, flush=True)
print("SUM", spark.range(100).selectExpr("sum(id)").first()[0], flush=True)
"""


def _session(cache, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    env["XDG_CACHE_HOME"] = str(cache)
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, *args],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    assert "SUM 4950" in proc.stdout
    assert "[cds" not in proc.stdout  # the dump's Signed-JAR warnings stay off stdout
    return proc


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def test_archive_is_written_then_mapped(tmp_path):
    jvm_dir = tmp_path / "cache" / "sparkstreaming_mq_spark" / "jvm"
    first = _session(tmp_path / "cache")
    archives = sorted(p.name for p in jvm_dir.glob("*.jsa"))
    assert len(archives) == 1, archives
    assert not list(jvm_dir.glob("*.tmp")) and not list(jvm_dir.glob("*.classlist"))
    # the recording session waited for its JVM before Python exited
    jvm_pid = int(next(ln.split()[1] for ln in first.stdout.splitlines() if ln.startswith("JVM_PID")))
    assert not _alive(jvm_pid)

    log = tmp_path / "classes.log"
    _session(tmp_path / "cache", f"-Xlog:class+load:file={log}")
    loads = log.read_text().splitlines()
    ctx = [ln for ln in loads if " org.apache.spark.SparkContext " in ln]
    assert ctx and "source: shared objects file" in ctx[0], ctx
    assert sum("source: shared objects file" in ln for ln in loads) > 5000

    # a truncated archive never reaches the JVM, which would die of
    # SIGBUS mapping it
    jsa = jvm_dir / archives[0]
    assert session._archive_intact(str(jsa))
    os.chmod(jsa, 0o644)
    os.truncate(jsa, jsa.stat().st_size - 4096)
    assert not session._archive_intact(str(jsa))


def test_dead_sessions_files_are_removed(tmp_path):
    dead = subprocess.Popen(["true"])
    dead.wait()
    key, other = "0123456789abcdef", "fedcba9876543210"
    orphans = [tmp_path / f"{key}.{dead.pid}.classlist", tmp_path / f"{other}.{dead.pid}.tmp"]
    live = [tmp_path / f"{key}.{os.getpid()}.classlist", tmp_path / f"{other}.{os.getpid()}.classlist"]
    for p in orphans + live:
        p.write_bytes(b"x")
    assert session._live_recordings(str(tmp_path), key) == [str(live[0])]
    assert not any(p.exists() for p in orphans)
    assert all(p.exists() for p in live)


def _header(regions: list[tuple[int, int]]) -> bytes:
    """A JDK 17 static-archive header with the given (offset, used) regions."""
    head = bytearray(16 + 7 * 72)
    struct.pack_into("<Iii", head, 0, 0xF00BABA2, 0, 11)
    for i, (offset, used) in enumerate(regions):
        struct.pack_into("<QQQ", head, 16 + 72 * i + 24, offset, 0, used)
    return bytes(head)


class _Builder:
    """Records what get_spark configures, and the Spark conf dir the
    launcher would see, instead of starting a JVM."""

    def __init__(self, fail: bool = False):
        self.conf: dict[str, str] = {}
        self.fail = fail

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.conf["SPARK_CONF_DIR at launch"] = os.environ.get("SPARK_CONF_DIR")
        if self.fail:
            raise RuntimeError("launch failed")
        return self.conf


@pytest.fixture
def fake(monkeypatch, tmp_path):
    """get_spark with a fake builder, no running JVM, a temp cache dir
    and a temp Spark home whose conf dir holds only templates."""
    monkeypatch.setattr(session, "SparkContext", SimpleNamespace(_gateway=None, _active_spark_context=None))
    monkeypatch.setattr(session, "python_warm_up", lambda spark: None)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    monkeypatch.setattr(session, "nio_local_fs_jar", lambda: "/x/NioLocalFs.jar")
    session.jvm_cache_dir.cache_clear()

    def build(master="local[2]", fail=False, **kw):
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder(fail)))
        return session.get_spark(master=master, **kw)

    jvm_dir = tmp_path / "cache" / "sparkstreaming_mq_spark" / "jvm"
    yield SimpleNamespace(build=build, home=home, jvm_dir=jvm_dir)
    session.jvm_cache_dir.cache_clear()


def _opts(conf: dict) -> str:
    return conf.get("spark.driver.extraJavaOptions", "")


def test_caller_java_options_are_joined(fake):
    env_before = dict(os.environ)
    conf = fake.build(extra_conf={"spark.driver.extraJavaOptions": "-Dcaller=1 -Xss4m"})
    assert dict(os.environ) == env_before
    opts, prefix = _opts(conf), "-Dcaller=1 -Xss4m -XX:DumpLoadedClassList="
    assert opts.startswith(prefix) and opts.endswith(" " + session._CDS_QUIET)
    classlist = opts[len(prefix):-len(session._CDS_QUIET) - 1]
    assert os.path.dirname(classlist) == str(fake.jvm_dir)
    assert classlist.endswith(f".{os.getpid()}.classlist")
    assert conf["SPARK_CONF_DIR at launch"] == str(fake.jvm_dir / "conf")
    assert not os.listdir(fake.jvm_dir / "conf")

    # while that session records, a second one runs without CDS
    (fake.jvm_dir / os.path.basename(classlist)).write_text("")
    conf = fake.build(extra_conf={"spark.driver.extraJavaOptions": "-Dcaller=1"})
    assert _opts(conf) == "-Dcaller=1"
    assert conf["SPARK_CONF_DIR at launch"] is None

    # once the archive exists, the next session maps it
    key = os.path.basename(classlist).split(".", 1)[0]
    jsa = fake.jvm_dir / f"{key}.jsa"
    jsa.write_bytes(_header([(4096, 100)]) + bytes(4096))
    conf = fake.build(extra_conf={"spark.driver.extraJavaOptions": "-Dcaller=1"})
    assert _opts(conf) == f"-Dcaller=1 -XX:SharedArchiveFile={jsa} {session._CDS_QUIET}"
    assert dict(os.environ) == env_before


def test_truncated_archive_is_recorded_again(fake, caplog):
    key = os.path.basename(_opts(fake.build()).split()[0].split("=", 1)[1]).split(".", 1)[0]
    jsa = fake.jvm_dir / f"{key}.jsa"
    jsa.write_bytes(_header([(4096, 100), (8192, 1 << 20)]) + bytes(8192))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        conf = fake.build()
    assert "-XX:DumpLoadedClassList=" in _opts(conf)
    assert not jsa.exists()
    assert [r.levelno for r in caplog.records] == [logging.WARNING]


@pytest.mark.parametrize(
    "opts", ["-Xshare:off", "-Dx=1 -XX:SharedArchiveFile=/elsewhere.jsa", "-XX:ArchiveClassesAtExit=/a.jsa",
             "-XX:DumpLoadedClassList=/a.classlist"]
)
def test_caller_cds_options_win(fake, opts):
    conf = fake.build(extra_conf={"spark.driver.extraJavaOptions": opts})
    assert _opts(conf) == opts
    assert conf["SPARK_CONF_DIR at launch"] is None


def test_real_conf_dir_runs_without_cds(fake, monkeypatch):
    (fake.home / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    conf = fake.build()
    assert _opts(conf) == ""
    assert conf["SPARK_CONF_DIR at launch"] is None

    (fake.home / "conf" / "spark-defaults.conf").unlink()
    monkeypatch.setenv("SPARK_CONF_DIR", "/caller/conf")
    conf = fake.build()
    assert _opts(conf) == ""
    assert conf["SPARK_CONF_DIR at launch"] == "/caller/conf"
    assert os.environ["SPARK_CONF_DIR"] == "/caller/conf"


def test_environment_restored_when_launch_fails(fake):
    env_before = dict(os.environ)
    with pytest.raises(RuntimeError, match="launch failed"):
        fake.build(fail=True)
    assert dict(os.environ) == env_before


def test_running_jvm_and_cluster_masters_are_untouched(fake, monkeypatch):
    conf = fake.build(master="spark://host:7077")
    assert "spark.driver.extraJavaOptions" not in conf
    assert conf["SPARK_CONF_DIR at launch"] is None
    assert not fake.jvm_dir.exists()

    monkeypatch.setattr(session, "SparkContext", SimpleNamespace(_gateway=object(), _active_spark_context=None))
    conf = fake.build()
    assert "spark.driver.extraJavaOptions" not in conf
    assert conf["SPARK_CONF_DIR at launch"] is None


def test_unwritable_cache_warns_once_and_runs_without_cds(fake, monkeypatch, tmp_path, caplog):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    monkeypatch.setattr(session, "nio_local_fs_jar", BUILD_JAR)
    session.jvm_cache_dir.cache_clear()
    BUILD_JAR.cache_clear()
    try:
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            confs = [fake.build(), fake.build()]
    finally:
        BUILD_JAR.cache_clear()
    for conf in confs:
        assert _opts(conf) == ""
        assert conf["SPARK_CONF_DIR at launch"] is None
        assert session.NIO_LOCAL_FS_KEY not in conf
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
