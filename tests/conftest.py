from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from redmap_spark.catalog import TABLES  # noqa: E402
from redmap_spark.session import get_spark  # noqa: E402

# Cross-SF robustness: override to run the whole suite (oracle parity
# included) at another scale factor, e.g.
#   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 pytest tests/test_oracle.py
import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("redmap-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def default_oracle_names() -> list[str]:
    """Entries the default (not `slow`) profile checks: the correctness
    window, i.e. the first 50 oracle entries in queries() order, the set
    the next CORRECTNESS run hash-verifies, plus the entries the newest
    CORRECTNESS_rNN.json verified (the previous window), so a rotation
    does not drop the last verified set from the default run.
    """
    import json

    from redmap_spark.inventory import ORACLES, QUERIES

    window = [n for n in QUERIES if n in ORACLES][:50]
    runs = sorted(REPO.glob("CORRECTNESS_r[0-9][0-9].json"))
    last = json.loads(runs[-1].read_text()) if runs else {}
    green = [k for k, v in last.items() if v.get("hash_match") and k in ORACLES]
    return window + [n for n in green if n not in set(window)]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's compare: sort columns by name, stringify,
    sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def assert_matches_oracle(spark, ddb, name: str, sf_dir: str = SF_DIR):
    from redmap_spark.inventory import ORACLES, QUERIES

    got = normalize(QUERIES[name](spark, sf_dir).toPandas())
    want = normalize(ddb.execute(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
