"""The benchmark's workloads: what one op does and how its output is checked.

Each workload builds its inputs in ``setup``, runs one op per ``run_op``
call through the package's public entry points, and checks every op's
output in ``check`` after the timed region.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.dataset as ds

import datagen


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a result: columns by name, every value
    as ``str``, rows sorted (the comparison the repo's oracle tests use)."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(str(v) for v in row) for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


class QueryWorkload:
    """Inventory entries on a catalog generated from the seed. One op
    builds the entry's frame with ``QUERIES[name](spark, sf_dir)`` (plan
    construction plus any eager checkpoint/cache jobs) and collects it to
    the driver; the result is hashed after the timed region and compared
    with the entry's DuckDB oracle on the same files."""

    def __init__(self, entries: tuple[str, ...], sf: float):
        self.ops = entries
        self.sf = sf
        self.sf_dir = ""
        self.docs_in = 0

    def setup(self, spark, in_dir: str, seed: int) -> None:
        datagen.write_tables(in_dir, self.sf, seed)
        self.sf_dir = in_dir

    def run_op(self, spark, tracer, op_id: int, name: str, out_dir: str):
        from redmap_spark.inventory import QUERIES

        df = tracer.call(op_id, f"inventory.{name}", "build", QUERIES[name], spark, self.sf_dir)
        return tracer.call(op_id, "exec.toPandas", "action", df.toPandas)

    def check(self, results: list[tuple[str, object]]) -> tuple[list[bool], dict]:
        import duckdb

        from redmap_spark.catalog import TABLES
        from redmap_spark.inventory import ORACLES

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            want = {n: frame_hash(con.execute(ORACLES[n]).df()) for n in self.ops}
        finally:
            con.close()
        return [frame_hash(pdf) == want[name] for name, pdf in results], {}


class CorpusWorkload:
    """The training-data write path. Setup generates ``n_docs`` documents
    from the seed. One op reads them (``sources.io.read_parquet``), runs
    ``pipelines.prepare_training_corpus``, writes the chunks partitioned by
    ``lang``, reads them back, packs them with
    ``operators.packing.pack_sequences`` (the Arrow pandas-UDF seam) and
    writes the packs. Every op writes to its own directory."""

    MIXTURE = {"en": 1.0, "de": 0.8, "es": 0.6, "fr": 0.6}
    BUDGET = 512
    ops = ("corpus_write",)

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.docs_in = n_docs
        self.in_path = ""

    def setup(self, spark, in_dir: str, seed: int) -> None:
        self.in_path = os.path.join(in_dir, "docs.parquet")
        datagen.write_corpus(self.in_path, self.n_docs, seed)

    def run_op(self, spark, tracer, op_id: int, name: str, out_dir: str):
        from redmap_spark import pipelines
        from redmap_spark.operators import packing
        from redmap_spark.sources import io

        chunks_dir = os.path.join(out_dir, "chunks")
        packs_dir = os.path.join(out_dir, "packs")
        docs = tracer.call(op_id, "sources.read_parquet", "build", io.read_parquet, spark, self.in_path)
        chunks = tracer.call(op_id, "pipelines.prepare_training_corpus", "build",
                             pipelines.prepare_training_corpus, docs, mixture=self.MIXTURE)
        tracer.call(op_id, "sources.write_parquet[chunks]", "action",
                    io.write_parquet, chunks, chunks_dir, partition_by=["lang"])
        back = tracer.call(op_id, "sources.read_parquet", "build", io.read_parquet, spark, chunks_dir)
        packs = tracer.call(op_id, "operators.pack_sequences", "build",
                            packing.pack_sequences, back, budget=self.BUDGET)
        tracer.call(op_id, "sources.write_parquet[packs]", "action", io.write_parquet, packs, packs_dir)
        return out_dir

    def check(self, results: list[tuple[str, object]]) -> tuple[list[bool], dict]:
        """Per op: no pack over budget unless it holds one oversize chunk,
        packed tokens equal chunk tokens, languages within the mixture, and
        the chunk output identical across the run's ops."""
        oks, hashes, facts = [], set(), {}
        in_bytes = os.path.getsize(self.in_path)
        for _, out_dir in results:
            chunks = ds.dataset(os.path.join(out_dir, "chunks"), partitioning="hive").to_table().to_pandas()
            packs = ds.dataset(os.path.join(out_dir, "packs")).to_table().to_pandas()
            per_pack = packs.groupby("pack_id")["n_chunk_tokens"].agg(["sum", "count"])
            over = per_pack[(per_pack["sum"] > self.BUDGET) & (per_pack["count"] > 1)]
            chunks["lang"] = chunks["lang"].astype(str)
            hashes.add(frame_hash(chunks))
            oks.append(
                len(chunks) > 0
                and over.empty
                and int(packs["n_chunk_tokens"].sum()) == int(chunks["n_chunk_tokens"].sum())
                and len(packs) == len(chunks)
                and set(chunks["lang"]) <= set(self.MIXTURE)
            )
            files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs
                     if f.endswith(".parquet")]
            out_bytes = sum(os.path.getsize(f) for f in files)
            facts = {
                "pipelines.docs_kept_ratio": chunks["doc_id"].nunique() / self.n_docs,
                "operators.pack_fill": float(per_pack["sum"].sum()) / (len(per_pack) * self.BUDGET),
                "sources.bytes_written": out_bytes,
                "sources.files_written": len(files),
                "sources.out_bytes_per_in_byte": out_bytes / in_bytes,
            }
        if len(hashes) > 1:
            oks = [False] * len(oks)
        return oks, facts


# Why each workload: see BENCHMARK.json and METRICS.md.
WORKLOADS = {
    "analytic": lambda: QueryWorkload(
        ("q1_pricing_summary", "q5_local_volume", "mr_pagerank"),
        sf=0.02,
    ),
    "corpus_write": lambda: CorpusWorkload(n_docs=10000),
}
