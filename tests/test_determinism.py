"""Partition-count determinism: every oracle query must produce the
bit-identical (order-insensitive) result regardless of
``spark.sql.shuffle.partitions`` — the local proxy for "the answer
does not depend on cluster size". Catching FP-accumulation-order
drift (double sums), nondeterministic tie-breaks (unordered top-k /
argmin), and partition-dependent ids is exactly what the registry's
determinism rules (registry.py docstring) exist to prevent; this test
enforces them mechanically across the whole inventory.
"""

from __future__ import annotations

import pandas as pd
import pytest

from redmap_spark.inventory import ORACLES, QUERIES
from tests.conftest import SF_DIR, default_oracle_names, normalize


def _check_partition_invariance(spark, name):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        at7 = normalize(QUERIES[name](spark, SF_DIR).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        at32 = normalize(QUERIES[name](spark, SF_DIR).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert len(at7) == len(at32), f"{name}: row count varies with partitioning"
    pd.testing.assert_frame_equal(at7, at32, check_dtype=False)


# Default profile: default_oracle_names() (the same
# entries tests/test_oracle.py checks by default); the rest is the
# `slow` full sweep (`-m ""`, round-close protocol). The window rotates
# every round, so full coverage accrues across rounds even without the
# slow sweep.
_DEFAULT = default_oracle_names()


@pytest.mark.parametrize("name", _DEFAULT)
def test_partition_count_invariance(spark, name):
    _check_partition_invariance(spark, name)


@pytest.mark.slow
@pytest.mark.parametrize(
    "name", [n for n in sorted(ORACLES) if n not in set(_DEFAULT)]
)
def test_partition_count_invariance_full(spark, name):
    _check_partition_invariance(spark, name)
