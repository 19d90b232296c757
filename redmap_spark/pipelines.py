"""End-to-end training-data pipeline (the engine's raison d'être).

Composes the operator library into the standard corpus-preparation
flow, all in ONE Catalyst plan until the sink:

    raw docs
      → exact dedup          (md5 fingerprint, keep first)
      → quality filter       (Gopher rules)
      → repetition filter    (top-bigram fraction cap)
      → PII redaction        (regex chain)
      → chunking             (overlapping token windows)
      → mixture rebalance    (per-language deterministic hash sample)

The plan is one parquet scan and one shuffle: the dedup is a
``row_number()`` window partitioned by fingerprint, so each document
crosses the exchange once, text included. Everything after it runs
map-side in the post-shuffle stage: both gates are per-row column
predicates (the repetition gate sorts each document's hashed bigrams
within the row), then redaction, chunking and sampling. No Python
per row, no action until write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from redmap_spark.operators import textstats as T


def prepare_training_corpus(
    docs: DataFrame,
    mixture: dict[str, float] | None = None,
    chunk_tokens: int = 50,
    stride: int = 40,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """Returns (doc_id, chunk_idx, lang, chunk_text, n_chunk_tokens)
    ready to tokenize. ``mixture`` maps lang → keep fraction
    (deterministic hash sample); None keeps everything."""
    # 1. exact dedup: keep the smallest doc_id per normalized text (ties
    #    on doc_id broken by lang, then text; a repeated (fp, doc_id)
    #    row is kept once; rows without a doc_id are dropped). The
    #    window's exchange is the only shuffle.
    w = Window.partitionBy("fp").orderBy("doc_id", "lang", "text")
    deduped = (
        docs.filter(F.col("doc_id").isNotNull())
        .select("doc_id", "lang", "text", T.fingerprint("text").alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("fp", "rn")
    )

    # 2. Gopher-rule quality gate and 3. repetition gate: per-row
    #    column predicates, map-side after the dedup shuffle
    kept = deduped.filter(T.gopher_passes("text")).filter(
        T.top_bigram_frac(T.tokens("text")) <= max_top_bigram_frac
    )

    # 4. PII redaction (map-side regex chain)
    redacted = kept.withColumn("text", T.redact_pii("text"))

    # 5. chunking (map-side 1→N; lang rides along — no join-back)
    chunks = T.chunk_documents(
        redacted, chunk_tokens=chunk_tokens, stride=stride, keep=("lang",)
    )

    # 6. mixture rebalance (deterministic per-stratum hash sample)
    if mixture is not None:
        frac_map = F.create_map(
            *[x for k, v in mixture.items() for x in (F.lit(k), F.lit(int(v * 10000)))]
        )
        cut = F.coalesce(F.element_at(frac_map, F.col("lang")), F.lit(0))
        chunks = chunks.filter(
            F.pmod(F.xxhash64("doc_id", "chunk_idx"), F.lit(10000)) < cut
        )
    return chunks.select("doc_id", "chunk_idx", "lang", "chunk_text", "n_chunk_tokens")
