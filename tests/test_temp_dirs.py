"""Query output directories under the temp dir must not outlive the
process that made them."""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a mkdtemp name: prefix + 8 random characters. The keyed caches
# (sparkgraft_replay/<key>, sparkgraft_buckets/<key>, ...) are reused
# across runs by design and carry no random suffix.
RUN_DIR = re.compile(r"^sparkgraft_\w+_[a-z0-9_]{8}$")

# s6 returns a lazy read of run_stream_to_parquet's output directory,
# s7 one of its foreachBatch upsert log.
_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
from sparkstreaming_mq_spark import registry
from sparkstreaming_mq_spark.session import get_spark

spark = get_spark(app_name="temp-dir-test", shuffle_partitions=2)
qs = registry.all_queries()
for name in ("s6_stream_file_sink", "s7_stream_foreachbatch"):
    print(name, len(qs[name](spark, sys.argv[2]).collect()), flush=True)
"""


def test_query_output_dirs_removed_at_exit(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    assert "s7_stream_foreachbatch" in proc.stdout
    left = sorted(n for n in os.listdir(tmp_path) if RUN_DIR.match(n))
    assert not left, left
