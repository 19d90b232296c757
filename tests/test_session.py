"""Session factory contracts."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO, SF_SMALL


def test_udf_entries_run_from_any_working_directory(tmp_path):
    """Python workers import ``redmap_spark`` when they unpickle a UDF.
    Run from outside the repo, they find it only because ``get_spark``
    ships the package (on a cluster, every executor is "outside")."""
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from redmap_spark.inventory import QUERIES
from redmap_spark.session import get_spark
spark = get_spark("cwd-test", shuffle_partitions=2)
for name in ("mm_resize", "txt_bpe_apply"):
    assert QUERIES[name](spark, {SF_SMALL!r}).collect(), name
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
