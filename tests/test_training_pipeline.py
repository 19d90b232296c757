"""End-to-end training-corpus pipeline (redmap_spark/pipelines.py)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.operators.textstats import top_bigram_frac
from redmap_spark.pipelines import prepare_training_corpus
from redmap_spark.plans.explain import executed_plan, has_python_eval
from tests.conftest import SF_DIR


def test_training_pipeline_flow(spark):
    docs = Catalog(spark, SF_DIR).documents
    out = prepare_training_corpus(docs, mixture={"en": 1.0, "es": 0.2})
    rows = out.collect()
    assert rows
    # only the requested languages survive the mixture
    langs = {r.lang for r in rows}
    assert langs <= {"en", "es"}
    # chunk invariants
    assert all(1 <= r.n_chunk_tokens <= 50 for r in rows)
    assert all(len(r.chunk_text.split(" ")) == r.n_chunk_tokens for r in rows)
    # deterministic end to end
    again = prepare_training_corpus(docs, mixture={"en": 1.0, "es": 0.2}).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_training_pipeline_stays_jvm(spark):
    docs = Catalog(spark, SF_DIR).documents
    out = prepare_training_corpus(docs)
    assert not has_python_eval(out)


def test_training_pipeline_one_scan_one_shuffle(spark):
    """Dedup is one window over the fingerprint and both gates are
    per-row predicates: the documents are read once and cross exactly
    one exchange, and the output does not depend on the input's
    partitioning."""
    docs = Catalog(spark, SF_DIR).documents
    out = prepare_training_corpus(docs)
    plan = executed_plan(out)
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan
    rows = sorted(map(tuple, out.collect()))
    assert rows
    again = prepare_training_corpus(docs.repartition(7)).collect()
    assert sorted(map(tuple, again)) == rows


def _top_bigram_frac_ref(t):
    if t is None or len(t) < 2:
        return None
    c = Counter(zip(t, t[1:]))
    return round(max(c.values()) / (len(t) - 1), 6)


def test_top_bigram_frac_matches_counter_reference(spark):
    cases = [
        ["solo"],
        ["la"] * 7,
        None,
        "the cat sat on the mat and the cat sat on the rug".split(" "),
        [],
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i int, t array<string>")
    got = {r.i: r.f for r in df.select("i", top_bigram_frac("t").alias("f")).collect()}
    want = {i: _top_bigram_frac_ref(t) for i, t in enumerate(cases)}
    assert got == want
    assert want[0] is None and want[1] == 1.0 and want[2] is None
    assert 0 < want[3] < 1


def test_training_pipeline_dedups_and_filters(spark):
    docs = Catalog(spark, SF_DIR).documents
    out = prepare_training_corpus(docs)
    n_docs_out = out.select("doc_id").distinct().count()
    n_docs_in = docs.count()
    assert n_docs_out < n_docs_in  # dedup + quality gates dropped some
    # no document below the Gopher word floor survives
    short = docs.filter(F.size(F.split("text", " ")) < 10).select("doc_id")
    assert out.join(short, "doc_id", "left_semi").count() == 0


def test_pack_sequences_invariants(spark):
    """Sequence packing: no token loss, every pack within budget,
    slot order dense, and bit-identical output under repartitioning."""
    from pyspark.sql import functions as F

    from redmap_spark.operators.packing import pack_rows, pack_sequences
    from redmap_spark.operators.textstats import chunk_documents

    docs = Catalog(spark, SF_DIR).documents
    chunks = chunk_documents(docs, chunk_tokens=50, stride=40)
    budget = 512
    packed = pack_sequences(chunks, budget=budget, n_buckets=16)
    rows = packed.collect()

    # every input chunk appears exactly once (no loss, no duplication)
    in_keys = {(r.doc_id, r.chunk_idx) for r in chunks.collect()}
    out_keys = [(r.doc_id, r.chunk_idx) for r in rows]
    assert len(out_keys) == len(set(out_keys)) == len(in_keys)
    assert set(out_keys) == in_keys

    # sum of tokens preserved
    total_in = chunks.agg(F.sum("n_chunk_tokens")).collect()[0][0]
    assert sum(r.n_chunk_tokens for r in rows) == total_in

    # every pack within budget (all chunks are <= 50 << budget here)
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pid, members in by_pack.items():
        assert sum(m.n_chunk_tokens for m in members) <= budget, pid
        assert sorted(m.pack_slot for m in members) == list(range(len(members)))

    # packing efficiency: first-fit over 10..50-token chunks should
    # fill most of the budget on every non-final pack
    fills = sorted(sum(m.n_chunk_tokens for m in members)
                   for members in by_pack.values())
    assert fills[len(fills) // 2] >= budget - 50, fills[:5]

    # deterministic under repartitioning (bucketing, not ambient
    # partitioning, decides placement)
    alt = {(r.doc_id, r.chunk_idx): (r.pack_id, r.pack_slot)
           for r in pack_sequences(chunks.repartition(7), budget=budget,
                                   n_buckets=16).collect()}
    base = {(r.doc_id, r.chunk_idx): (r.pack_id, r.pack_slot) for r in rows}
    assert alt == base

    # pack_rows rebuilds one text row per pack with matching counts
    mat = pack_rows(packed, chunks).collect()
    assert {r.pack_id for r in mat} == set(by_pack)
    for r in mat:
        assert r.n_seqs == len(by_pack[r.pack_id])
        assert len(r.packed_text.split(" ")) == r.n_tokens  # join adds no loss
