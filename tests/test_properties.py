"""Property tests (SURVEY §5.2, hypothesis): dedup invariants hold
for arbitrary corpora, not just the fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from redmap_spark.operators import dedup as D

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=3, max_size=12).map(" ".join),
    min_size=2,
    max_size=12,
)


def _df(spark, texts):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_exact_dedup_partitions_corpus(spark, texts):
    """Every doc belongs to exactly one class; class sizes sum to the
    corpus; each representative is the min id of its class."""
    classes = D.exact_dedup_classes(_df(spark, texts)).collect()
    assert sum(r.n_copies for r in classes) == len(texts)
    import re

    def norm(t):
        return re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()

    by_norm: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_norm.setdefault(norm(t), []).append(i)
    assert len(classes) == len(by_norm)
    reps = {r.rep_id for r in classes}
    assert reps == {min(ids) for ids in by_norm.values()}


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_jaccard_pairs_symmetric_bounds(spark, texts):
    """Pair scores are in (0,1], id1 < id2 always, and identical
    texts (if any) score exactly 1.0."""
    rows = D.ngram_jaccard_pairs(_df(spark, texts), k=3, threshold=0.0).collect()
    for r in rows:
        assert r.id1 < r.id2
        assert 0.0 < r.jaccard <= 1.0
    dup_pairs = {
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if texts[i] == texts[j] and len(texts[i].split()) >= 3
    }
    scored = {(r.id1, r.id2): r.jaccard for r in rows}
    for p in dup_pairs:
        assert scored.get(p) == 1.0, (p, scored.get(p))


# ------------------------------------------------- merge_upsert model


upsert_batches = st.lists(  # each batch: list of (key, value, day, deleted)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),         # key
            st.integers(min_value=0, max_value=99),        # value
            st.sampled_from(["d1", "d2", "d3"]),           # partition
            st.booleans(),                                  # tombstone
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=upsert_batches)
def test_merge_upsert_matches_dict_model(spark, tmp_path_factory, batches):
    """Applying arbitrary upsert/delete batches through merge_upsert
    equals the trivial dict model, for any batch composition — with
    the partition-stability constraint enforced by construction (a
    key's partition is key-derived)."""
    from redmap_spark.operators.incremental import merge_upsert

    tgt = str(tmp_path_factory.mktemp("merge") / "tbl")
    model: dict[int, tuple[int, str]] = {}
    days = ["d1", "d2", "d3"]
    for batch in batches:
        # partition-stable: the partition is key-derived; dedupe keys
        # within a batch (last write wins in the model, and updates
        # must carry one row per key for a deterministic merge)
        rows = {}
        for key, value, _day, deleted in batch:
            day = days[key % 3]
            rows[key] = (key, value, day, deleted)
        for key, value, day, deleted in rows.values():
            if deleted:
                model.pop(key, None)
            else:
                model[key] = (value, day)
        ups = spark.createDataFrame(
            list(rows.values()), "id long, value long, day string, _deleted boolean"
        )
        merge_upsert(spark, tgt, ups, ["id"], "day", deleted_col="_deleted")
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        try:
            got = {
                r.id: (r.value, r.day)
                for r in spark.read.parquet(tgt)
                .withColumn("day", F.col("day").cast("string"))
                .collect()
            }
        except AnalysisException:
            got = {}  # all-tombstone history: table never materialized
        assert got == {k: v for k, v in model.items()}


# ---------------------------------------------- text-op invariants


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_chunking_covers_every_token_in_order(spark, texts):
    """Chunk invariants for arbitrary corpora: stride-window chunks
    cover EVERY token of every doc, in order, with exactly
    (chunk - stride) tokens of overlap between adjacent chunks."""
    from redmap_spark.operators.textstats import chunk_documents

    chunk, stride = 5, 3
    out = chunk_documents(_df(spark, texts), chunk_tokens=chunk, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        toks = t.split(" ")
        rows = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        # reassembly: chunk_idx k starts at token k*stride
        reassembled = []
        for k, r in enumerate(rows):
            ctoks = r.chunk_text.split(" ")
            assert ctoks == toks[k * stride : k * stride + chunk]
            reassembled.extend(ctoks if k == 0 else ctoks[chunk - stride :])
        # every token appears (last chunk may re-cover the tail)
        assert reassembled[: len(toks)] == toks


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_pii_redaction_idempotent_and_clean_texts_untouched(spark, texts):
    """Redaction is a fixed point: redact(redact(x)) == redact(x);
    and the PII-free vocabulary corpus passes through unchanged."""
    from pyspark.sql import functions as F

    from redmap_spark.operators.textstats import redact_pii

    df = _df(spark, texts).withColumn("r1", redact_pii("text")).withColumn(
        "r2", redact_pii(F.col("r1"))
    )
    rows = df.collect()
    for r in rows:
        assert r.r1 == r.r2, (r.r1, r.r2)
        assert r.r1 == r.text  # VOCAB contains no PII-shaped strings


# ------------------------- round-4 operator invariants


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False), min_size=5, max_size=60
    )
)
def test_quantile_bins_within_bin_width_of_exact(spark, vals):
    """The fixed-bin estimate must sit within one bin width above the
    exact quantile (upper-edge estimator property), for any data."""
    import numpy as np
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame([Row(event_type="t", value=float(v)) for v in vals])
    bins = df.groupBy(
        "event_type", F.floor(F.col("value") / 0.5).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type")
    cum = bins.select(
        "bin", "n",
        F.sum("n").over(w).alias("cum_n"), F.sum("n").over(wt).alias("total_n"),
    )
    est = cum.agg(
        F.min(F.when(F.col("cum_n") >= 0.5 * F.col("total_n"), (F.col("bin") + 1) * 0.5))
    ).collect()[0][0]
    exact = float(np.quantile(np.array(vals), 0.5, method="inverted_cdf"))
    assert exact <= est <= exact + 0.5 + 1e-9, (exact, est)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seq=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=30)
)
def test_scd2_intervals_tile_the_timeline(spark, seq):
    """For any single-user event_type sequence: intervals must (1)
    count exactly the change points, (2) chain valid_to == next
    valid_from, (3) end with exactly one open current interval."""
    from pyspark.sql import Row

    from redmap_spark.inventory.changefeed import q_scd2_intervals  # noqa: F401
    from redmap_spark.inventory import QUERIES
    import tempfile, os

    # materialize a tiny events parquet the inventory entry can read
    rows = [
        Row(event_id=i, ts=__import__("datetime").datetime(2024, 1, 1, 0, 0, i),
            user_id=1, event_type=t, value=1.0, props="{}")
        for i, t in enumerate(seq)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = sorted(
            QUERIES["q_scd2_intervals"](spark, d).collect(),
            key=lambda r: r.valid_from_us,
        )
    n_changes = 1 + sum(1 for x, y in zip(seq, seq[1:]) if x != y)
    assert len(got) == n_changes
    assert sum(1 for r in got if r.is_current) == 1
    assert got[-1].is_current and got[-1].valid_to_us is None
    for a, b in zip(got, got[1:]):
        assert a.valid_to_us == b.valid_from_us
        assert a.state != b.state


def test_audience_overlap_approx_error_bound(spark):
    """HLL inclusion-exclusion overlap stays within 10% relative (or
    ±30 absolute for small cells) of the exact self-join matrix."""
    from redmap_spark.inventory import QUERIES
    from tests.conftest import SF_DIR

    exact = {
        (r.type_a, r.type_b): r.n_users
        for r in QUERIES["q_audience_overlap"](spark, SF_DIR).collect()
    }
    approx = {
        (r.type_a, r.type_b): r.n_users_approx
        for r in QUERIES["q_audience_overlap_approx"](spark, SF_DIR).collect()
    }
    assert set(approx) == set(exact)
    for pair, n in exact.items():
        assert abs(approx[pair] - n) <= max(0.10 * n, 30), (pair, approx[pair], n)


points_strategy = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=1, max_size=25
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(pts=points_strategy)
def test_skyline_equals_bruteforce_dominance(spark, pts):
    """The one-window-pass skyline rewrite must equal the dominance
    DEFINITION (no other point <= in min-dim and >= in max-dim with
    one strict) for arbitrary point sets — ties, duplicates,
    colinear runs included."""
    from pyspark.sql import Row

    from redmap_spark.operators.analytics import skyline

    df = spark.createDataFrame([Row(a=a, b=b) for a, b in pts])
    got = {(r.a, r.b, r.n_rows) for r in skyline(df, "a", "b").collect()}

    distinct = set(pts)
    want = set()
    for (a, b) in distinct:
        dominated = any(
            (a2 <= a and b2 >= b and (a2 < a or b2 > b)) for (a2, b2) in distinct
        )
        if not dominated:
            want.add((a, b, sum(1 for p in pts if p == (a, b))))
    assert got == want


intervals_strategy = st.lists(
    st.tuples(st.integers(0, 10), st.integers(1, 6)), min_size=1, max_size=20
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(iv=intervals_strategy)
def test_peak_concurrency_equals_bruteforce(spark, iv):
    """Sweep-line peak == brute-force max over instants for arbitrary
    half-open [s, s+len) integer intervals, including the first
    instant the peak is reached."""
    from pyspark.sql import Row

    from redmap_spark.operators.analytics import peak_concurrency

    rows = [Row(k="g", s=s, e=s + ln) for s, ln in iv]
    got = peak_concurrency(
        spark.createDataFrame(rows), "k", "s", "e"
    ).collect()
    assert len(got) == 1

    instants = sorted({s for s, _ in iv})
    active = {
        t: sum(1 for s, ln in iv if s <= t < s + ln) for t in instants
    }
    peak = max(active.values())
    first = min(t for t, a in active.items() if a == peak)
    assert got[0].peak_active == peak
    assert got[0].peak_at == first


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=0,
    max_size=40,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edges_strategy)
def test_triangle_stats_matches_brute_force(spark, edges):
    """Degree-oriented triangle counting equals the brute-force count
    over all node triples, for arbitrary small graphs (duplicates and
    reversed edges collapse to canonical pairs)."""
    from itertools import combinations

    from pyspark.sql import Row

    from redmap_spark.operators.analytics import triangle_stats

    canon = {(min(a, b), max(a, b)) for a, b in edges}
    if not canon:
        return  # empty edge set: nothing to count
    df = spark.createDataFrame([Row(u=u, v=v) for u, v in canon])
    row = triangle_stats(df).collect()[0]
    nodes = {n for e in canon for n in e}
    brute = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in canon and (b, c) in canon and (a, c) in canon
    )
    assert row.n_nodes == len(nodes)
    assert row.n_edges == len(canon)
    assert row.n_triangles == brute


def test_zipf_degenerate_corpus_matches_oracle(spark, tmp_path):
    """Zero-variance corpora (single-term vocab; uniform frequencies)
    must NULL the regression outputs on BOTH engines — Spark doubles
    would otherwise emit NaN/Inf where DuckDB's division by zero
    yields NULL, and the value-hash gate would falsely mismatch."""
    import duckdb
    from pyspark.sql import Row

    from redmap_spark.inventory.registry import ORACLES, QUERIES
    from tests.conftest import normalize

    cases = {
        # single-term vocab: vx = 0 -> slope and r2 NULL
        "single": ["hello hello hello", "hello"],
        # every term count equal: vy = 0 -> r2 is 0/0 -> NULL
        "uniform": ["alpha beta", "gamma delta"],
    }
    for name, texts in cases.items():
        d = tmp_path / name
        spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
                for i, t in enumerate(texts)
            ]
        ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
        got = normalize(QUERIES["txt_zipf"](spark, str(d)).toPandas())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{d}/documents.parquet/*.parquet'"
        )
        want = normalize(con.execute(ORACLES["txt_zipf"]).df())
        con.close()
        import pandas as pd

        pd.testing.assert_frame_equal(got, want, check_dtype=False)


activity_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 9)),  # (user, day offset)
    min_size=1,
    max_size=40,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(activity=activity_strategy)
def test_growth_accounting_invariants(spark, activity):
    """For arbitrary (user, day) activity: daily actives decompose
    exactly into new + retained + resurrected; churn (where defined)
    equals yesterday's actives minus today's retained and is never
    negative; total new users over all days equals the distinct user
    count."""
    import datetime as dt

    from pyspark.sql import Row

    from redmap_spark.inventory.timeseries import q_growth_accounting

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            ts=base + dt.timedelta(days=d, seconds=i),
            user_id=u,
            event_type="view",
            value=1.0,
            props="{}",
        )
        for i, (u, d) in enumerate(activity)
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            f"{td}/events.parquet"
        )
        out = {r.day: r for r in q_growth_accounting(spark, td).collect()}

    active_by_day = {}
    for u, d in activity:
        active_by_day.setdefault(d, set()).add(u)
    days = sorted(active_by_day)
    for d in days:
        day = (base + dt.timedelta(days=d)).strftime("%Y-%m-%d")
        r = out[day]
        assert r.n_active == len(active_by_day[d])
        assert r.n_new + r.n_retained + r.n_resurrected == r.n_active
        if d - 1 in active_by_day:
            assert r.n_churned == len(active_by_day[d - 1]) - r.n_retained
            assert r.n_churned >= 0
        else:
            assert r.n_churned is None
    assert sum(out[k].n_new for k in out) == len({u for u, _ in activity})



def _bpe_reference_merges(texts, num_merges):
    """Independent reimplementation (dict-of-lists, different data
    layout from operators/bpe.py) for cross-checking training."""
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                wf[w] += 1
    words = {w: list(w) + ["</w>"] for w in wf}
    out = []
    for rank in range(num_merges):
        pc = Counter()
        for w, sym in words.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += wf[w]
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        out.append((rank, a, b, a + b, c))
        for w, sym in words.items():
            i, new = 0, []
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    new.append(a + b)
                    i += 2
                else:
                    new.append(sym[i])
                    i += 1
            words[w] = new
    return out


def test_bpe_train_matches_reference_and_apply_is_lossless(spark):
    """BPE training equals an independent reimplementation on the
    same sample; applying the merges is loss-less (subwords
    concatenate back to word+marker), bounded (n_words <= n_subwords
    <= chars+words), memo-consistent, and deterministic under
    repartitioning."""
    from redmap_spark.catalog import Catalog
    from redmap_spark.operators import bpe
    from tests.conftest import SF_DIR

    d = Catalog(spark, SF_DIR).documents
    texts = bpe.sample_texts(d)
    merges = bpe.train_merges(texts, num_merges=64)
    assert merges == _bpe_reference_merges(texts, 64)
    assert [m[0] for m in merges] == list(range(len(merges)))
    assert len(merges) > 0

    ranks = {(a, b): r for r, a, b, _m, _c in merges}
    for w in ["the", "table", "query", "zzzqqq"]:
        sym = bpe.apply_word(w, ranks)
        assert "".join(sym) == w + bpe.EOW  # loss-less

    out = bpe.bpe_apply(d, merges).toPandas().set_index("doc_id")
    raw = d.toPandas().set_index("doc_id")
    for doc_id, row in out.iterrows():
        words = [w for w in raw.loc[doc_id, "text"].split(" ") if w]
        assert row["n_words"] == len(words)
        assert row["n_words"] <= row["n_subwords"]
        assert row["n_subwords"] <= sum(len(w) + 1 for w in words)

    again = (
        bpe.bpe_apply(d.repartition(7), merges)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(out.sort_index(), again)


series_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),          # event_type
        st.integers(0, 11),                   # day offset
        st.integers(-500, 500),               # value in cents
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=series_strategy)
def test_timeseries_family_matches_integer_brute_force(spark, events):
    """q_ewma / q_bollinger_flags / q_changepoint agree with exact
    integer-cents brute-force recomputation on arbitrary small
    series — the determinism story holds off the fixture corpus
    too."""
    import datetime as dt
    from fractions import Fraction

    from pyspark.sql import Row

    from redmap_spark.inventory.timeseries import (
        q_bollinger_flags,
        q_changepoint,
        q_ewma,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            ts=base + dt.timedelta(days=d, seconds=i),
            user_id=i,
            event_type=et,
            value=c / 100.0,
            props="{}",
        )
        for i, (et, d, c) in enumerate(events)
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            f"{td}/events.parquet"
        )
        ewma = {(r.event_type, r.day): r for r in q_ewma(spark, td).collect()}
        boll = {
            (r.event_type, r.day): r
            for r in q_bollinger_flags(spark, td).collect()
        }
        chg = {r.event_type: r for r in q_changepoint(spark, td).collect()}

    # integer-cents daily sums per (type, day)
    daily: dict = {}
    for i, (et, d, c) in enumerate(events):
        daily[(et, d)] = daily.get((et, d), 0) + c
    series: dict = {}
    for (et, d), cents in sorted(daily.items()):
        series.setdefault(et, []).append((d, cents))

    for et, pts in series.items():
        days = [d for d, _ in pts]
        cents = [c for _, c in pts]
        n = len(pts)
        total = sum(cents)
        best = None
        for t in range(1, n + 1):
            prefix = sum(cents[:t])
            stat = abs(n * prefix - t * total)
            if best is None or stat > best[0]:
                best = (stat, days[t - 1])
        key = (base + dt.timedelta(days=best[1])).strftime("%Y-%m-%d")
        r = chg[et]
        assert r.change_day == key and r.n_days == n
        # Spark's round(double, 2) is HALF_UP over the double's
        # SHORTEST decimal repr (BigDecimal.valueOf): 0.015 -> 0.02.
        # Python's built-in round is banker's on the binary value
        # (0.015 -> 0.01), so replicate the engine's semantics here.
        from decimal import ROUND_HALF_UP, Decimal

        expect_cusum = float(
            Decimal(repr(best[0] / 100 / n)).quantize(
                Decimal("0.01"), ROUND_HALF_UP
            )
        )
        assert abs(r.cusum - expect_cusum) < 1e-9

        for t in range(n):
            day = (base + dt.timedelta(days=days[t])).strftime("%Y-%m-%d")
            # EWMA: exact rational fold over the last <=8 observations
            tail = cents[: t + 1][::-1][:8]
            num = sum(Fraction(1, 2**j) * v for j, v in enumerate(tail))
            den = sum(Fraction(1, 2**j) for j in range(len(tail)))
            expect = round(float(num / den) / 100, 6)
            assert abs(ewma[(et, day)].ewma - expect) < 2e-6, (et, day)

            # Bollinger: exact integer inequality (n·x−S)² > 4(n·Q−S²)
            frame = cents[max(0, t - 6): t + 1]
            nw, x = len(frame), cents[t]
            S, Q = sum(frame), sum(v * v for v in frame)
            flag = 1 if (nw * x - S) ** 2 > 4 * (nw * Q - S * S) else 0
            assert boll[(et, day)].is_outlier == flag, (et, day)


def test_kmv_estimate_error_bound(spark):
    """KMV at k=64 has relative std error ~1/sqrt(k-2) ≈ 12.7%; every
    per-type estimate must land within 4σ of the exact distinct (and
    be exact when the type has fewer than k users)."""
    from redmap_spark.inventory import QUERIES
    from redmap_spark.inventory.sketches import KMV_K
    from tests.conftest import SF_DIR

    for r in QUERIES["q_kmv_distinct"](spark, SF_DIR).collect():
        if r.exact_distinct < KMV_K:
            assert r.kmv_estimate == r.exact_distinct
        else:
            rel = abs(r.kmv_estimate - r.exact_distinct) / r.exact_distinct
            assert rel <= 4 / (KMV_K - 2) ** 0.5, (r.event_type, rel)


def test_quantile_sketch_rank_error_and_merge(spark):
    """Bottom-k-by-hash quantile sketch: every estimate's true rank
    lands within 4σ + 1/k of the target quantile (σ = sqrt(q(1-q)/k)),
    and the exact columns are real percentile_disc order stats.
    (Merge-associativity under repartitioning is enforced by
    test_determinism.py, which parametrizes over all ORACLES.)"""
    from redmap_spark.inventory import QUERIES
    from redmap_spark.inventory.sketches import QSK_K
    from redmap_spark.catalog import Catalog
    from tests.conftest import SF_DIR

    rows = {r.event_type: r for r in QUERIES["q_quantile_sketch"](spark, SF_DIR).collect()}
    vals = {
        et: sorted(v.value for v in g)
        for et, g in __import__("itertools").groupby(
            sorted(
                Catalog(spark, SF_DIR).events.select("event_type", "value").collect(),
                key=lambda v: v.event_type,
            ),
            key=lambda v: v.event_type,
        )
    }
    import bisect

    for et, r in rows.items():
        xs = vals[et]
        n = len(xs)
        assert r.n_rows == n
        for q, est in ((0.5, r.p50_est), (0.9, r.p90_est), (0.99, r.p99_est)):
            true_rank = bisect.bisect_right(xs, est) / n
            sigma = (q * (1 - q) / QSK_K) ** 0.5
            # 4σ sampling error + 1/k order-statistic discretization
            assert abs(true_rank - q) <= 4 * sigma + 1.0 / QSK_K + 1.0 / n, (
                et, q, true_rank,
            )
        # exact columns really are the percentile_disc order stats
        import math
        for q, ex in ((0.5, r.p50_exact), (0.9, r.p90_exact), (0.99, r.p99_exact)):
            assert ex == xs[max(1, math.ceil(q * n)) - 1], (et, q)


def test_compress_ratio_matches_direct_zlib(spark):
    """txt_compress_ratio (rows-only entry): the per-source rollup
    must equal a direct pandas/zlib recomputation over the same
    corpus, including the suspect-doc counter."""
    import zlib

    from redmap_spark.catalog import Catalog
    from redmap_spark.inventory import QUERIES
    from tests.conftest import SF_DIR

    got = {r.source: r for r in QUERIES["txt_compress_ratio"](spark, SF_DIR).collect()}
    rows = Catalog(spark, SF_DIR).documents.select("source", "text").collect()
    agg = {}
    for r in rows:
        raw = r.text.encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        a = agg.setdefault(r.source, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(raw)
        a[2] += comp
        a[3] += 1 if comp / len(raw) < 0.35 else 0
    assert set(got) == set(agg)
    for src, (n, raw_b, comp_b, suspect) in agg.items():
        g = got[src]
        assert (g.n_docs, g.raw_bytes, g.comp_bytes, g.n_suspect_docs) == (
            n, raw_b, comp_b, suspect,
        ), src
        assert g.compress_ratio == round(comp_b / raw_b, 6)


def test_gk_quantiles_rank_error_bound(spark):
    """q_gk_quantiles (native percentile_approx, accuracy 1000): each
    estimate must be an actual data value whose rank is within
    n/1000 (+ tie slack) of the target quantile."""
    import bisect

    from redmap_spark.catalog import Catalog
    from redmap_spark.inventory import QUERIES
    from tests.conftest import SF_DIR

    got = {r.event_type: r for r in QUERIES["q_gk_quantiles"](spark, SF_DIR).collect()}
    rows = Catalog(spark, SF_DIR).events.select("event_type", "value").collect()
    vals: dict[str, list] = {}
    for r in rows:
        vals.setdefault(r.event_type, []).append(r.value)
    for et, xs in vals.items():
        xs.sort()
        n = len(xs)
        r = got[et]
        assert r.n == n
        for q, est in ((0.5, r.p50_gk), (0.9, r.p90_gk), (0.99, r.p99_gk)):
            lo = bisect.bisect_left(xs, est)
            hi = bisect.bisect_right(xs, est)
            assert lo < hi, (et, q, est)  # the estimate is a real value
            target = q * n
            slack = n / 1000 + 1
            assert lo - slack <= target <= hi + slack, (et, q, lo, hi, target)


def test_bpe_fertility_matches_direct_apply(spark):
    """txt_bpe_fertility's per-(lang,source) sums must equal a direct
    driver-side recomputation with the same sample-trained merges."""
    from collections import defaultdict

    from redmap_spark.catalog import Catalog
    from redmap_spark.inventory import QUERIES
    from redmap_spark.operators import bpe as B
    from tests.conftest import SF_DIR

    got = {
        (r.lang, r.source): (r.n_docs, r.n_words, r.n_subwords, r.fertility)
        for r in QUERIES["txt_bpe_fertility"](spark, SF_DIR).collect()
    }
    d = Catalog(spark, SF_DIR).documents
    merges = B.train_merges(B.sample_texts(d), num_merges=64)
    ranks = {(a, b): rank for rank, a, b, _m, _c in merges}
    agg = defaultdict(lambda: [0, 0, 0])
    for row in d.select("lang", "source", "text").collect():
        words = row.text.split()
        subs = sum(len(B.apply_word(w, ranks)) for w in words)
        a = agg[(row.lang, row.source)]
        a[0] += 1
        a[1] += len(words)
        a[2] += subs
    assert set(got) == set(agg)
    for k, (nd, nw, ns) in agg.items():
        gd, gw, gs, f = got[k]
        assert (gd, gw, gs) == (nd, nw, ns), k
        assert f == round(ns / nw, 6), k


# -- round-6 continuation: numeric-primitive property tests ------------


@given(
    st.floats(min_value=0.0001, max_value=0.9999,
              allow_nan=False, allow_infinity=False)
)
@settings(max_examples=200, deadline=None)
def test_inverse_normal_chain_accuracy_and_monotonicity(p):
    """The house A&S 26.2.23 Φ⁻¹ chain (q_heckman_mills) round-trips
    through the A&S 7.1.26 Φ chain within the documented 4.5e-4 +
    erfc-chain error budget, and is monotone."""
    import math

    from redmap_spark.inventory._normal import _INV_C, _INV_D

    c0, c1, c2 = _INV_C
    d1, d2, d3 = _INV_D

    def inv(pp):
        q = pp if pp <= 0.5 else 1.0 - pp
        sgn = -1.0 if pp <= 0.5 else 1.0
        t = math.sqrt(-2.0 * math.log(q))
        return sgn * (
            t - (c0 + t * (c1 + t * c2))
            / (1.0 + t * (d1 + t * (d2 + t * d3)))
        )

    z = inv(p)
    # exact Φ for the round-trip check
    phi = 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
    assert abs(phi - p) < 1.5e-3
    eps = 1e-6
    if p + eps < 0.9999:
        assert inv(p + eps) >= z - 1e-9


def test_erlang_c_monotone_and_bounded(spark):
    from tests.conftest import SF_DIR
    """q_erlang_c invariants: wait probability strictly decreases as
    servers are added (same type), occupancy < 1 on every candidate
    row, and P_wait ∈ (0, 1)."""
    from collections import defaultdict

    from redmap_spark.inventory import QUERIES

    rows = QUERIES["q_erlang_c"](spark, SF_DIR).collect()
    assert rows
    by_type = defaultdict(list)
    for r in rows:
        assert 0.0 < r.occupancy < 1.0, r
        assert 0.0 <= r.p_wait < 1.0, r
        assert r.asa_minutes >= 0.0, r
        by_type[r.event_type].append((r.servers, r.p_wait))
    for tp, lst in by_type.items():
        lst.sort()
        waits = [w for _, w in lst]
        assert waits == sorted(waits, reverse=True), (tp, waits)


def test_mus_sampling_invariants(spark):
    from tests.conftest import SF_DIR
    """Monetary-unit sampling guarantees: every order worth more than
    one sampling step is selected; total selections ≈ 200 (systematic
    PPS yields between 150 and 250 boundary hits on this population);
    value coverage exceeds count share (PPS oversamples value)."""
    from redmap_spark.inventory import QUERIES

    rows = QUERIES["q_mus_sampling"](spark, SF_DIR).collect()
    assert rows
    tot_sel = sum(r.n_selected for r in rows)
    tot_n = sum(r.pop_n for r in rows)
    assert 150 <= tot_sel <= 250, tot_sel
    # PPS: value coverage strictly exceeds the raw count share
    tot_val = sum(r.pop_value for r in rows)
    tot_sval = sum(r.sampled_value for r in rows)
    assert tot_sval / tot_val > tot_sel / tot_n


def test_optimal_reserve_microunit_bids_match_fraction_arithmetic(spark):
    from tests.conftest import SF_DIR
    """The BIGINT micro-dollar bid construction in q_optimal_reserve
    equals exact Fraction arithmetic floor((revs·10⁴·10⁴)/qty·10²)
    on a sampled set of (part, supplier) groups."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from redmap_spark.catalog import Catalog

    li = Catalog(spark, SF_DIR).lineitem.filter(F.col("l_partkey") <= 20)
    rows = li.select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_quantity",
    ).collect()
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for r in rows:
        cents = round(r.l_extendedprice * 100.0)
        dpct = round(r.l_discount * 100.0)
        q2 = round(r.l_quantity * 100.0)
        key = (r.l_partkey, r.l_suppkey)
        agg[key][0] += cents * (100 - dpct)
        agg[key][1] += q2
    cents_e = F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint")
    dpct_e = F.round(F.col("l_discount") * 100.0, 0).cast("bigint")
    q_e = F.round(F.col("l_quantity") * 100.0, 0).cast("bigint")
    got = {
        (r.pk, r.sk): r.bidm
        for r in li.groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(
            F.sum(cents_e * (100 - dpct_e)).alias("rev4"),
            F.sum(q_e).alias("q2"),
        )
        .select("pk", "sk", F.expr("(rev4 * 10000) div q2").alias("bidm"))
        .collect()
    }
    assert got
    for key, (rev4, q2) in agg.items():
        expect = (Fraction(rev4) * 10000) // q2
        assert got[key] == expect, key
