"""bench.py driver contract: rounds 1-3 were never machine-graded
because the final JSON line overflowed the driver's 2000-char stdout
tail. This locks the envelope: one parseable line, every inventory
entry present under the documented key compression, hard length
margin."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


import pytest


@pytest.mark.slow  # ~10 min: full 565-entry sf0.001 bench subprocess.
# Deselected in the driver profile (pytest.ini); the envelope FORMAT
# stays pinned by the synthetic compact_line tests below, and the real
# bench loop is executed by the driver itself every round.
def test_bench_line_contract():
    # Pin the warm budget high so the n_rerun > 0 assertion tests the
    # envelope FORMAT, not the host's timing: on a loaded machine the
    # budget check (which runs before the first re-run) can
    # legitimately truncate to 0 re-runs, by design (ADVICE r10).
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_WARM_BUDGET="100000",
    )
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True, text=True, env=env, timeout=1200, check=True,
    ).stdout
    lines = [ln for ln in out.splitlines() if ln.strip()]
    full = json.loads(lines[-2])["full_queries"]
    final = lines[-1]
    assert len(final) < 1900, len(final)

    d = json.loads(final)
    assert d["metric"] == "inventory_total_wall"
    assert d["unit"] == "sec"
    assert d["sf"] == 0.001
    assert d["value"] > 0

    # round 9: the envelope carries the warm min-of-3 summary (tail
    # re-run) so the driver artifact records cold AND warm in one line
    assert "warm" in d
    assert 0 < d["warm"]["value"] <= d["value"] + 0.5
    # time-budgeted: re-runs up to 40 tail entries, stopping at the
    # SPARK_GRAFT_BENCH_WARM_BUDGET wall (sf0.001 comfortably fits all)
    assert 0 < d["warm"]["n_rerun"] <= 40
    # round 12: the positional and keep-N stages slim warm to its two
    # scalars so all entries fit the 1900-char budget; warm.slowest
    # only appears when a keyed stage fit, and a slimmed warm always
    # declares which lossy stage produced it
    if "slowest" in d["warm"]:
        assert 0 < len(d["warm"]["slowest"]) <= 15
    else:
        assert "queries_key" in d or "queries_omitted" in d
    warm_full = json.loads(lines[-3])["full_warm_queries"]
    assert len(warm_full) == d["warm"]["n_rerun"]
    assert all(warm_full[k] <= full[k] for k in warm_full)

    from redmap_spark.inventory import QUERIES

    assert set(full) == set(QUERIES)
    # every entry survives into the final line: as a short-key dict, a
    # positional array (sorted-full-name order, decoded against
    # sorted(QUERIES)), or the N-slowest dict that explicitly declares
    # what it dropped
    if d.get("queries_key") == "sorted-name-positional":
        assert isinstance(d["queries"], list)
        assert len(d["queries"]) == len(QUERIES)
    elif "queries_omitted" in d:
        assert d["queries_total"] == len(QUERIES)
        assert len(d["queries"]) + d["queries_omitted"] == len(QUERIES)
    else:
        assert len(d["queries"]) == len(QUERIES)
        # the documented prefix scheme holds (spot checks). Key width
        # depends on which fallback stage fit the budget: prefix+3
        # normally, prefix+2 once the inventory outgrows the 3-char
        # stage (as at 179 entries with sub-second sf0.001 timings).
        shorts = set(d["queries"])
        assert "q1" in shorts
        assert any(k.startswith("d") and len(k) in (3, 4) for k in shorts)
        assert any(k.startswith("t") and len(k) in (3, 4) for k in shorts)
        assert not any(re.match(r"^q\d+_", k) for k in shorts)


def test_compact_line_survives_300_entries():
    """The staged fallback must never exceed the 1900-char budget no
    matter how far the inventory grows: at 300 synthetic entries the
    N-slowest stage kicks in and reports what it dropped."""
    sys.path.insert(0, str(REPO))
    from bench import compact_line

    timings = {f"q_synthetic_entry_{i:03d}": 0.5 + (i % 40) for i in range(300)}
    total = round(sum(timings.values()), 4)
    warm = {
        "value": round(total * 0.6, 1),
        "n_rerun": 40,
        "slowest": {k: round(v * 0.6, 1) for k, v in
                    sorted(timings.items(), key=lambda kv: -kv[1])[:15]},
    }
    line = compact_line(timings, total, 0.1, warm)
    assert len(line) < 1900, len(line)
    d = json.loads(line)
    assert d["value"] == total
    # 300 entries resolve via the POSITIONAL stage: every value kept,
    # array order = sorted full names
    assert d.get("queries_key") == "sorted-name-positional"
    assert len(d["queries"]) == 300
    want = [
        (int(round(v)) if v >= 1 else round(v, 1))
        for _, v in sorted(timings.items())
    ]
    assert d["queries"] == want

    # the lossy N-slowest stage still guards the far tail (800 entries)
    big = {f"q_synthetic_entry_{i:03d}": 0.5 + (i % 40) for i in range(800)}
    line3 = compact_line(big, round(sum(big.values()), 4), 0.1, warm)
    assert len(line3) < 1900
    d3 = json.loads(line3)
    assert d3["queries_total"] == 800
    assert d3["queries_omitted"] == 800 - len(d3["queries"])
    assert 0 < len(d3["queries"]) < 800
    rounded_vals = sorted(
        (int(round(v)) if v >= 1 else v for v in big.values()), reverse=True
    )
    assert min(d3["queries"].values()) == rounded_vals[len(d3["queries"]) - 1]

    # and the current real inventory still fits WITHOUT dropping any
    from redmap_spark.inventory import QUERIES

    real = {name: 1.0 + (i % 13) for i, name in enumerate(sorted(QUERIES))}
    real_warm = {
        "value": round(sum(real.values()) * 0.6, 1),
        "n_rerun": 40,
        "slowest": {k: round(v * 0.6, 1) for k, v in
                    sorted(real.items(), key=lambda kv: -kv[1])[:15]},
    }
    line2 = compact_line(real, round(sum(real.values()), 4), 0.1, real_warm)
    assert len(line2) < 1900
    d2 = json.loads(line2)
    assert "queries_omitted" not in d2
    assert len(d2["queries"]) == len(QUERIES)

    # round 12: the r11 driver line overflowed the 1dp positional
    # stage into lossy keep-N (44 phantom "dropped" queries in
    # PERF_r11). The all-int positional stage now guards the worst
    # case — every entry present by position even when all 565 values
    # are sub-second (the warm-min sweep shape).
    worst = {name: 0.4 + (i % 7) / 10 for i, name in enumerate(sorted(QUERIES))}
    line4 = compact_line(worst, round(sum(worst.values()), 4), 0.1, real_warm)
    assert len(line4) < 1900
    d4 = json.loads(line4)
    assert d4.get("queries_key") == "sorted-name-positional"
    assert len(d4["queries"]) == len(QUERIES)
    assert "queries_omitted" not in d4
    assert set(d4["warm"]) <= {"value", "n_rerun"}
