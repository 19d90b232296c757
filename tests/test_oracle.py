"""The driver's t2 check, run locally: every [oracle] query in
SURVEY §2 must produce the identical (order-insensitive) result on
Spark and DuckDB at sf0.01."""

from __future__ import annotations

import pytest

from redmap_spark.inventory import ORACLES, QUERIES
from tests.conftest import assert_matches_oracle, default_oracle_names


def test_every_query_is_callable():
    assert QUERIES, "inventory is empty"
    for name in ORACLES:
        assert name in QUERIES


# Default profile: the run checks default_oracle_names() (the
# correctness window plus the last verified set) every time; the rest are
# the `slow` full sweep (run with `-m ""`, the round-close protocol).
# Rotation (test_window_rotation_covers_all_oracles) guarantees the
# window cycles through every oracle entry over rounds.
_DEFAULT = default_oracle_names()


@pytest.mark.parametrize("name", _DEFAULT)
def test_oracle(spark, ddb, name):
    assert_matches_oracle(spark, ddb, name)


@pytest.mark.slow
@pytest.mark.parametrize(
    "name", [n for n in sorted(ORACLES) if n not in set(_DEFAULT)]
)
def test_oracle_full(spark, ddb, name):
    assert_matches_oracle(spark, ddb, name)


def test_survey_checklist_is_backed():
    """Every checked `name` line in SURVEY.md §2 must exist in
    queries(); every line tagged [oracle] must have an oracle_sql()
    entry — the judge's line-by-line coverage check, as a test."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("SURVEY.md").read_text()
    lines = re.findall(r"- \[x\] `([a-z0-9_]+)`[^\n]*", text)
    assert lines, "no checklist entries parsed from SURVEY.md"
    missing = [n for n in lines if n not in QUERIES]
    assert not missing, f"SURVEY lists queries not in inventory: {missing}"
    for m in re.finditer(r"- \[x\] `([a-z0-9_]+)`([^\n]*)", text):
        name, rest = m.group(1), m.group(2)
        if "[oracle]" in rest:
            assert name in ORACLES, f"{name} tagged [oracle] but has no oracle_sql"
        # and the reverse: declared approximate queries must NOT
        # silently gain an oracle tag without the oracle
    extra = [n for n in QUERIES if f"`{n}`" not in text]
    assert not extra, f"inventory queries missing from SURVEY.md: {extra}"


def test_window_rotation_covers_all_oracles():
    """Window-rotation invariants: the driver verifies the FIRST 50
    queries() entries per round, so (a) all 50 must be oracle-backed
    (hash-checkable) and (b) no window slot may hold an
    already-driver-verified entry while an unverified oracle entry
    waits outside — unverified entries beyond 50 are allowed only when
    the window is already fully packed with unverified ones (they
    queue for the next round's rotation)."""
    import json
    from pathlib import Path

    window = list(QUERIES)[:50]
    no_oracle = [n for n in window if n not in ORACLES]
    assert not no_oracle, f"weak rows-only entries in window: {no_oracle}"

    verified = set()
    root = Path(__file__).resolve().parent.parent
    # driver artifacts are CORRECTNESS_r<NN>.json; the [0-9][0-9] glob
    # (not r0[1-9]) keeps matching from round 10 on, and full-sweep
    # artifacts (CORRECTNESS_full_*) are intentionally excluded — only
    # the driver's own runs count as driver-verified.
    for p in sorted(root.glob("CORRECTNESS_r[0-9][0-9].json")):
        d = json.loads(p.read_text())
        verified |= {k for k, v in d.items() if v.get("hash_match")}
    waiting = [n for n in ORACLES if n not in verified and n not in window]
    if waiting:
        wasted = [n for n in window if n in verified]
        assert not wasted, (
            "ROTATION REQUIRED (this is the designed forcing function, not a "
            "correctness regression): the driver's latest CORRECTNESS artifact "
            f"verified the current window, so {len(wasted)} slots now hold "
            f"already-verified entries while {len(waiting)} unverified oracle "
            "entries wait outside. Remediation: in redmap_spark/inventory/"
            "__init__.py, rebuild _WINDOW_FIRST as the never-driver-verified "
            "oracle entries in prior registration order (drop the newly "
            f"verified names from the front). Next window should be: "
            f"{waiting[:50]}"
        )


def test_entry_build_clears_dead_session_caches(spark):
    """Registry session hygiene (PERF.md #83): a long single-JVM gate
    session accumulates completed entries' .cache()'d frames in the
    storage pool; each entry build must start by dropping them (the
    sf0.1 vanilla-1g OOM shape in mr_bipartite_cc after 26 heavy
    predecessors). Simulate a dead predecessor cache and assert the
    next entry build clears it."""
    from pyspark.sql import functions as F

    from redmap_spark.inventory import QUERIES

    dead = spark.range(1000).select(F.col("id") * 2)
    dead.cache().count()
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert not jcache.isEmpty()
    QUERIES["q_ljung_box"](spark, "/root/testdata/sf0.001")  # build only
    assert jcache.isEmpty()


def test_keep_caches_env_skips_hygiene(spark, monkeypatch):
    """SPARK_GRAFT_KEEP_CACHES=1 lets a caller that owns caches across
    entry builds opt out of session hygiene (ADVICE r10); the default
    path (previous test) still clears, protecting the driver's vanilla
    session."""
    from pyspark.sql import functions as F

    from redmap_spark.inventory import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_KEEP_CACHES", "1")
    kept = spark.range(1000).select(F.col("id") * 3)
    kept.cache().count()
    jcache = spark._jsparkSession.sharedState().cacheManager()
    try:
        assert not jcache.isEmpty()
        QUERIES["q_ljung_box"](spark, "/root/testdata/sf0.001")  # build only
        assert not jcache.isEmpty()
    finally:
        kept.unpersist()
