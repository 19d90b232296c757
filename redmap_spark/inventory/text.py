"""SURVEY §2.E — text analysis inventory entries (oracle-verified)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory.registry import query
from redmap_spark.operators import textstats as T

NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
STOPS_SQL = "('the', 'a', 'of', 'and', 'in', 'to', 'is')"

# -- txt_tokens --------------------------------------------------------

TXT_TOKENS_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens
FROM documents
"""


@query("txt_tokens", oracle=TXT_TOKENS_SQL)
def txt_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.ws_token_count("text").cast("long").alias("n_ws_tokens"),
        T.word_token_count("text").cast("long").alias("n_word_tokens"),
    )


# -- txt_quality -------------------------------------------------------

TXT_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio,
       CAST(len(list_filter(string_split(text, ' '), x -> x IN {STOPS_SQL})) AS DOUBLE)
         / len(string_split(text, ' ')) AS stop_ratio,
       0.5 * least(1.0, len(string_split(text, ' ')) / 400.0)
         + 0.5 * (CAST(len(list_filter(string_split(text, ' '), x -> x IN {STOPS_SQL})) AS DOUBLE)
                  / len(string_split(text, ' '))) AS quality
FROM documents
"""


@query("txt_quality", oracle=TXT_QUALITY_SQL)
def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.ws_token_count("text").cast("long").alias("n_tokens"),
        T.punct_ratio("text").alias("punct_ratio"),
        T.stopword_ratio("text").alias("stop_ratio"),
        T.quality_score("text").alias("quality"),
    )


# -- txt_langid --------------------------------------------------------

def _hits_sql(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({inlist})))"


_EN = _hits_sql(T.LANG_MARKERS["en"])
_ES = _hits_sql(T.LANG_MARKERS["es"])
_DE = _hits_sql(T.LANG_MARKERS["de"])

TXT_LANGID_SQL = f"""
SELECT doc_id,
       CASE WHEN {_EN} >= {_ES} AND {_EN} >= {_DE} AND {_EN} > 0 THEN 'en'
            WHEN {_ES} >= {_DE} AND {_ES} > 0 THEN 'es'
            WHEN {_DE} > 0 THEN 'de'
            ELSE 'und' END AS lang_pred,
       CAST({_EN} AS BIGINT) AS c_en,
       CAST({_ES} AS BIGINT) AS c_es,
       CAST({_DE} AS BIGINT) AS c_de
FROM documents
"""


@query("txt_langid", oracle=TXT_LANGID_SQL)
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.langid("text").alias("lang_pred"),
        T.marker_hits("text", T.LANG_MARKERS["en"]).cast("long").alias("c_en"),
        T.marker_hits("text", T.LANG_MARKERS["es"]).cast("long").alias("c_es"),
        T.marker_hits("text", T.LANG_MARKERS["de"]).cast("long").alias("c_de"),
    )


# -- txt_fingerprint ---------------------------------------------------

TXT_FP_SQL = f"""
SELECT doc_id,
       md5({NORM}) AS fp,
       md5(substr({NORM}, 1, 64)) AS prefix_fp
FROM documents
"""


@query("txt_fingerprint", oracle=TXT_FP_SQL)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        T.prefix_fingerprint("text", 64).alias("prefix_fp"),
    )


# -- txt_gopher_quality ------------------------------------------------

TXT_GOPHER_SQL = f"""
WITH sig AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         round(list_avg(list_transform(string_split(text, ' '),
                                       x -> CAST(length(x) AS DOUBLE))), 6) AS mean_word_len,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
           / len(string_split(text, ' ')) AS alpha_word_frac,
         CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS BIGINT) AS n_symbols,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN {STOPS_SQL})) AS BIGINT) AS stop_hits
  FROM documents)
SELECT *,
       (n_words BETWEEN 10 AND 1000
        AND mean_word_len BETWEEN 2.0 AND 12.0
        AND alpha_word_frac >= 0.8
        AND stop_hits >= 2) AS passes
FROM sig
"""


@query("txt_gopher_quality", oracle=TXT_GOPHER_SQL)
def txt_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-rule quality signals + pass flag per doc."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.ws_token_count("text").cast("long").alias("n_words"),
        T.mean_word_length("text").alias("mean_word_len"),
        T.alpha_word_frac("text").alias("alpha_word_frac"),
        T.symbol_count("text").cast("long").alias("n_symbols"),
        T.marker_hits("text", T.STOPWORDS).cast("long").alias("stop_hits"),
        T.gopher_passes("text").alias("passes"),
    )


# -- txt_pii_redact ----------------------------------------------------
#
# The corpus is synthetic and PII-free, so both sides append the same
# deterministic PII suffix before redacting — the regexes are then
# exercised on every row (and the redacted output must strip them all).

PII_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or '"
    " || '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 tel +1 555 000 ' || CAST(doc_id % 10000 AS VARCHAR)"
)

TXT_PII_SQL = f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace({PII_AUG},
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
           '\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}', '<IP>', 'g'),
         '\\+?\\d[\\d -]{{7,}}\\d', '<PHONE>', 'g') AS redacted
FROM documents
"""


@query("txt_pii_redact", oracle=TXT_PII_SQL)
def txt_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel +1 555 000 "),
        (F.col("doc_id") % 10000).cast("string"),
    )
    return d.select("doc_id", T.redact_pii(aug).alias("redacted"))


# -- txt_repetition ----------------------------------------------------
#
# Oracle computes the same top-bigram fraction over string bigrams;
# the Spark side hashes bigrams (xxhash64) per row with
# textstats.top_bigram_frac — identical counts modulo 2^-64 collisions.

TXT_REP_SQL = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT doc_id, len(t) AS nt,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS b
  FROM tok),
cnt AS (
  SELECT doc_id, nt, b, COUNT(*) AS c FROM bg GROUP BY doc_id, nt, b)
SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
       round(CAST(MAX(c) AS DOUBLE) / (nt - 1), 6) AS top_bigram_frac
FROM cnt GROUP BY doc_id, nt
"""


@query("txt_repetition", oracle=TXT_REP_SQL)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    tok = d.select("doc_id", T.tokens("text").alias("t"))
    return tok.filter(F.size("t") >= 2).select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        T.top_bigram_frac("t").alias("top_bigram_frac"),
    )


# -- txt_chunk ---------------------------------------------------------

TXT_CHUNK_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
st AS (SELECT doc_id, t,
              unnest(generate_series(1, len(t), 40)) AS start
       FROM tok)
SELECT doc_id,
       CAST((start - 1) / 40 AS BIGINT) AS chunk_idx,
       array_to_string(t[start:start + 49], ' ') AS chunk_text,
       CAST(len(t[start:start + 49]) AS BIGINT) AS n_chunk_tokens
FROM st
"""


@query("txt_chunk", oracle=TXT_CHUNK_SQL)
def txt_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token chunks, stride 40)."""
    d = Catalog(spark, sf_dir).documents
    return T.chunk_documents(d, chunk_tokens=50, stride=40)


# -- txt_ngram_stats ---------------------------------------------------

TXT_NGRAM_SQL = """
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3),
tri AS (
  SELECT unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS ngram
  FROM toks)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n
FROM tri GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20
"""


@query("txt_ngram_stats", oracle=TXT_NGRAM_SQL)
def txt_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 token trigrams — the n-gram generalization
    of wordcount (boilerplate detection, contamination screens).
    Map-side combine does the heavy lifting: the explode emits
    |tokens|·1 rows but partial_count collapses them per partition
    before the single shuffle; the final top-k is a TakeOrdered over
    the aggregated (tiny) key space. Split is a bound projection so
    the trigram lambda never re-derives it (PERF.md §1)."""
    d = Catalog(spark, sf_dir).documents
    t = d.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    tri = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("t", i),
                    F.element_at("t", i + 1),
                    F.element_at("t", i + 2),
                ),
            )
        ).alias("ngram")
    )
    return (
        tri.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(20)
    )


# -- txt_training_corpus (end-to-end pipeline) -------------------------
#
# Oracle = the entire dedup → Gopher gate → repetition gate → PII
# redact → chunk composition in one DuckDB CTE chain (the mixture
# rebalance stage hash-samples with xxhash64, which no other engine
# reproduces, so the ORACLED entry runs mixture=None — keep
# everything; the mixture path is covered by
# tests/test_training_pipeline.py).

TXT_CORPUS_SQL = f"""
WITH reps AS (
  SELECT md5({NORM}) AS fp, MIN(doc_id) AS doc_id FROM documents GROUP BY 1
), dd AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN reps r ON d.doc_id = r.doc_id
), q AS (
  SELECT doc_id, lang, text FROM dd
  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 1000
    AND list_avg(list_transform(string_split(text, ' '),
                                x -> CAST(length(x) AS DOUBLE))) BETWEEN 2.0 AND 12.0
    AND CAST(len(list_filter(string_split(text, ' '),
                             x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(string_split(text, ' ')) >= 0.8
    AND len(list_filter(string_split(text, ' '), x -> x IN {STOPS_SQL})) >= 2
), bg AS (
  SELECT doc_id, len(string_split(text, ' ')) AS nt,
         unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS b
  FROM q
), cnt AS (
  SELECT doc_id, nt, b, COUNT(*) AS c FROM bg GROUP BY doc_id, nt, b
), rep_ok AS (
  SELECT doc_id FROM cnt GROUP BY doc_id, nt
  HAVING round(CAST(MAX(c) AS DOUBLE) / (nt - 1), 6) <= 0.2
), red AS (
  SELECT q.doc_id, q.lang,
         regexp_replace(
           regexp_replace(
             regexp_replace(q.text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}', '<IP>', 'g'),
           '\\+?\\d[\\d -]{{7,}}\\d', '<PHONE>', 'g') AS text
  FROM q JOIN rep_ok USING (doc_id)
), tok AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM red
), st AS (
  SELECT doc_id, lang, t, unnest(generate_series(1, len(t), 40)) AS start FROM tok
)
SELECT doc_id,
       CAST((start - 1) / 40 AS BIGINT) AS chunk_idx,
       lang,
       array_to_string(t[start:start + 49], ' ') AS chunk_text,
       CAST(len(t[start:start + 49]) AS BIGINT) AS n_chunk_tokens
FROM st
"""


# -- txt_decontaminate -------------------------------------------------
#
# Benchmark-contamination screen: the standard eval-decontamination
# pass of an LLM data pipeline (flag training docs sharing any token
# 5-gram with a held-out benchmark set). The "benchmark" here is the
# deterministic doc_id % 101 == 7 slice of the corpus. At 100 TB the
# benchmark gram set is tiny (eval suites are MBs, the corpus is TBs),
# so the gram join broadcasts the benchmark side — the training corpus
# is scanned exactly once and never shuffled on the gram key.

TXT_DECON_SQL = """
WITH bgrams AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
    FROM documents WHERE doc_id % 101 = 7 AND len(string_split(text, ' ')) >= 5
  )
), train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 101 <> 7
), tgrams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
    FROM train WHERE len(string_split(text, ' ')) >= 5
  )
), hits AS (
  SELECT doc_id, COUNT(*) AS n_hits FROM tgrams JOIN bgrams USING (g) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM train t LEFT JOIN hits h USING (doc_id)
"""


def _five_grams(df: DataFrame) -> DataFrame:
    """(doc_id, g): every token 5-gram per document, keyed by xxhash64
    of the gram string rather than the string itself — 8-byte join
    keys instead of ~30-byte strings (smaller broadcast hashmap,
    cheaper probes; a 2^-64 collision is far below any data-quality
    noise floor). Grams repeat — dedup happens where it's cheap,
    after the selective broadcast join."""
    t = df.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 5)
    return t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 4),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at("t", i),
                        F.element_at("t", i + 1),
                        F.element_at("t", i + 2),
                        F.element_at("t", i + 3),
                        F.element_at("t", i + 4),
                    )
                ),
            )
        ).alias("g"),
    )


@query("txt_decontaminate", oracle=TXT_DECON_SQL)
def txt_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per training doc, how many of its
    token 5-grams appear in the benchmark slice. The benchmark gram
    set is broadcast (small by construction at any corpus scale), so
    the single training-corpus scan carries no gram-key shuffle: raw
    (doc_id, gram) pairs hit the broadcast filter first, and only the
    surviving (contaminated) grams — a vanishing fraction of the
    corpus — reach the per-doc countDistinct. Deduplicating grams
    BEFORE the join would shuffle every gram of every doc."""
    d = Catalog(spark, sf_dir).documents
    is_bench = F.col("doc_id") % 101 == 7
    bench_grams = _five_grams(d.filter(is_bench)).select("g").distinct()
    train = d.filter(~is_bench)
    hits = (
        _five_grams(train)
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


@query("txt_training_corpus", oracle=TXT_CORPUS_SQL)
def txt_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-prep composition (dedup → Gopher gate →
    repetition gate → PII redact → chunk) as one Catalyst plan — see
    redmap_spark/pipelines.py and tests/test_training_pipeline.py
    (which also covers the mixture-rebalance stage; the oracled entry
    keeps every language so DuckDB can replay it)."""
    from redmap_spark.pipelines import prepare_training_corpus

    return prepare_training_corpus(Catalog(spark, sf_dir).documents, mixture=None)


# -- txt_bm25 ----------------------------------------------------------
#
# BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed query over the
# documents table — the lexical-search baseline every RAG/dedup
# pipeline wants next to its embedding ANN. Scale shape: the explode
# is immediately filtered to the query's terms (codegen, no shuffle),
# so only matching (doc, term) rows — a vanishing fraction of the
# token stream — reach the tf groupBy; document frequencies and the
# corpus length stats are broadcast 1-row/|terms|-row joins. Per-term
# contributions are cast to DECIMAL(18,9) before the per-doc sum so
# the fold is exact and partition-order independent on both engines.

BM25_TERMS = ("spark", "join", "fast", "data")
_TERMS_SQL = "('" + "', '".join(BM25_TERMS) + "')"

TXT_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
), hits AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM toks WHERE term IN {_TERMS_SQL} GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM hits GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM documents
)
SELECT h.doc_id,
       round(CAST(SUM(CAST(
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
FROM hits h JOIN dfreq USING (term) CROSS JOIN stats
GROUP BY h.doc_id
ORDER BY score DESC, h.doc_id
LIMIT 20
"""


@query("txt_bm25", oracle=TXT_BM25_SQL)
def txt_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    dl = F.size(F.split("text", " "))
    toks = d.select(
        "doc_id", dl.alias("dl"), F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*BM25_TERMS))
    hits = toks.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(dl).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contrib = (
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    return (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib.cast("decimal(18,9)")).cast("double"), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# -- txt_perplexity ----------------------------------------------------
#
# Unigram language-model quality scoring: train p(w) = n_w / N over
# the corpus token stream, score each document by its perplexity
# exp(-mean log p(w)) — the classic cheap LM filter (low-ppl ≈
# predictable/templated text, high-ppl ≈ noise or OOV-heavy) used to
# gate pretraining data. Scale shape: vocab build is one token-stream
# groupBy (|vocab| rows out); scoring joins the token stream to the
# vocab — broadcast here, shuffle-join on term beyond broadcast size.
# Per-token log-probs are cast to DECIMAL(18,9) before the per-doc
# sum so the fold is exact and partition-order independent.

TXT_PPL_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), vocab AS (
  SELECT term, COUNT(*) AS n_w FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_w) AS DOUBLE) AS n_tot FROM vocab
)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(exp(-(CAST(SUM(CAST(ln(n_w / n_tot) AS DECIMAL(18,9))) AS DOUBLE))
                 / COUNT(*)), 6) AS ppl
FROM toks JOIN vocab USING (term) CROSS JOIN tot
GROUP BY doc_id
"""


@query("txt_perplexity", oracle=TXT_PPL_SQL)
def txt_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_w"))
    tot = vocab.agg(F.sum("n_w").cast("double").alias("n_tot"))
    contrib = F.log(F.col("n_w") / F.col("n_tot")).cast("decimal(18,9)")
    return (
        toks.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.exp(-F.sum(contrib).cast("double") / F.count(F.lit(1))), 6
            ).alias("ppl"),
        )
    )


# -- txt_tfidf_keywords ------------------------------------------------
#
# TF-IDF keyword extraction: top-3 characteristic terms per document
# (weight = tf · ln(N/df)) — the cheap per-doc topic signal used for
# corpus exploration and domain tagging. Scale shape: tf is one
# token-stream groupBy; document frequencies and the corpus count are
# broadcast; the per-doc top-k window adds one doc_id shuffle of the
# (already collapsed) tf table — |doc×distinct-term| rows, far below
# the raw token stream. Ties break on the term itself.

TXT_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS nd FROM documents)
SELECT doc_id, term,
       CAST(rn AS BIGINT) AS rank, weight
FROM (
  SELECT tf.doc_id, tf.term,
         round(tf * ln(nd / CAST(df AS DOUBLE)), 6) AS weight,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY round(tf * ln(nd / CAST(df AS DOUBLE)), 6) DESC,
                                     tf.term) AS rn
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
WHERE rn <= 3
"""


@query("txt_tfidf_keywords", oracle=TXT_TFIDF_SQL)
def txt_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("nd"))
    weight = F.round(
        F.col("tf") * F.log(F.col("nd") / F.col("df").cast("double")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", weight.alias("weight"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", "weight")
    )


# -- txt_quality_model -------------------------------------------------
#
# Learned-quality scorer: logistic-model score over the Gopher feature
# vector (weights are frozen training artifacts embedded as literals —
# at scale they'd ship exactly the same way: tiny constant vector in
# the closure, never a join). The squash is the ALGEBRAIC sigmoid
# 0.5*(1 + z/(1+|z|)) rather than 1/(1+exp(-z)): +, *, /, abs are
# exactly-rounded IEEE ops so Spark's JVM and DuckDB's libm produce
# bit-identical scores, which exp() does not guarantee — determinism
# rule, registry.py docstring. Monotone-equivalent to the logistic
# (same ranking, accept ⇔ z >= 0 ⇔ score >= 0.5).

_QW = {  # frozen "trained" weights over the Gopher signals
    "bias": -0.8,
    "n_words": 0.004,
    "mean_word_len": 0.15,
    "alpha_word_frac": 1.2,
    "symbols_per_word": -0.08,
    "stop_frac": 2.5,
}

TXT_QMODEL_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
         round(list_avg(list_transform(string_split(text, ' '),
                                       x -> CAST(length(x) AS DOUBLE))), 6) AS mwl,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
           / len(string_split(text, ' ')) AS awf,
         CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS DOUBLE) AS sym,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN {STOPS_SQL})) AS DOUBLE) AS stp
  FROM documents),
z AS (
  SELECT doc_id,
         -0.8 + 0.004 * nw + 0.15 * mwl + 1.2 * awf
              + -0.08 * (sym / nw) + 2.5 * (stp / nw) AS z
  FROM f)
SELECT doc_id, round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) AS quality_score,
       z >= 0.0 AS accept
FROM z
"""


@query("txt_quality_model", oracle=TXT_QMODEL_SQL)
def txt_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    nw = T.ws_token_count("text").cast("double")
    z = (
        F.lit(_QW["bias"])
        + F.lit(_QW["n_words"]) * nw
        + F.lit(_QW["mean_word_len"]) * T.mean_word_length("text")
        + F.lit(_QW["alpha_word_frac"]) * T.alpha_word_frac("text")
        + F.lit(_QW["symbols_per_word"]) * (T.symbol_count("text").cast("double") / nw)
        + F.lit(_QW["stop_frac"]) * (T.marker_hits("text", T.STOPWORDS).cast("double") / nw)
    )
    return d.select(
        "doc_id",
        F.round(F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z))), 6).alias("quality_score"),
        (z >= F.lit(0.0)).alias("accept"),
    )


# -- txt_pack ----------------------------------------------------------


@query("txt_pack")  # greedy-sequential packing: verified by invariants pytest
def txt_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: chunk the corpus (50-token windows), then
    first-fit the chunks into 512-token training rows — deterministic
    under any input partitioning (bucketed by doc-id hash, packed in
    (doc_id, chunk_idx) order). Invariants (Σ tokens preserved, every
    pack ≤ budget, stable under repartitioning) are pytest-verified in
    tests/test_training_pipeline.py; the greedy loop is inherently
    sequential so there is no SQL oracle."""
    from redmap_spark.operators.packing import pack_sequences

    d = Catalog(spark, sf_dir).documents
    chunks = T.chunk_documents(d, chunk_tokens=50, stride=40)
    return pack_sequences(chunks, budget=512, n_buckets=64)


# -- txt_rank_fusion ---------------------------------------------------
#
# Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
# fuse the BM25 top-20 with a TF-IDF-density top-20 (same query
# terms, different scoring model) by rrf = Σ 1/(60 + rank). RRF is
# the standard way to combine lexical + secondary rankings without
# score calibration — at scale each ranking is an independent top-k
# job over broadcast corpus stats, and the fusion is a full-outer
# join of two k-row lists (driver-trivial, executor-free). Ranks are
# integers with (score DESC, doc_id) tie-break and 1/(60+r) is exact
# double arithmetic on both engines, so the fusion is hash-stable.

TXT_RRF_SQL = f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
), hits AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM toks WHERE term IN {_TERMS_SQL} GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM hits GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM documents
), bm AS (
  SELECT h.doc_id,
         round(CAST(SUM(CAST(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * 2.2)
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
           AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
  FROM hits h JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY h.doc_id ORDER BY score DESC, h.doc_id LIMIT 20
), tf_rank AS (
  SELECT h.doc_id,
         round(CAST(SUM(CAST(
           tf * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,9)
         )) AS DOUBLE) / MIN(dl), 6) AS score
  FROM hits h JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY h.doc_id ORDER BY score DESC, h.doc_id LIMIT 20
), rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM bm
), rt AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM tf_rank
)
SELECT COALESCE(rb.doc_id, rt.doc_id) AS doc_id,
       rb.r AS bm25_rank, rt.r AS tfidf_rank,
       round(COALESCE(1.0 / (60 + rb.r), 0.0)
             + COALESCE(1.0 / (60 + rt.r), 0.0), 6) AS rrf
FROM rb FULL OUTER JOIN rt ON rb.doc_id = rt.doc_id
ORDER BY rrf DESC, doc_id
"""


@query("txt_rank_fusion", oracle=TXT_RRF_SQL)
def txt_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir).documents
    dl = F.size(F.split("text", " "))
    toks = d.select(
        "doc_id", dl.alias("dl"), F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*BM25_TERMS))
    hits = toks.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(dl).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    scored = hits.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))

    bm_contrib = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    bm = (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum(bm_contrib.cast("decimal(18,9)")).cast("double"), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )
    tw_contrib = (F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))).cast(
        "decimal(18,9)"
    )
    tfr = (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                F.sum(tw_contrib).cast("double") / F.min("dl"), 6
            ).alias("score")
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )
    w = Window.orderBy(F.desc("score"), "doc_id")  # 20 rows: single-task window
    rb = bm.select("doc_id", F.row_number().over(w).alias("r_b"))
    rt = tfr.select(F.col("doc_id").alias("t_doc"), F.row_number().over(w).alias("r_t"))
    return (
        rb.join(rt, rb.doc_id == rt.t_doc, "full_outer")
        .select(
            F.coalesce("doc_id", "t_doc").alias("doc_id"),
            F.col("r_b").alias("bm25_rank"),
            F.col("r_t").alias("tfidf_rank"),
            F.round(
                F.coalesce(1.0 / (F.col("r_b") + 60), F.lit(0.0))
                + F.coalesce(1.0 / (F.col("r_t") + 60), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
    )


# -- txt_tokens_bpe ----------------------------------------------------
#
# BPE-ish regex pre-tokenization (the GPT-2 pattern family, ASCII
# form — no lookahead so Java regex and DuckDB RE2 agree): optional
# leading space + letter run | digit run | punctuation run, plus
# split-off contraction suffixes. n_bpe_tokens counts the pre-tokens;
# n_subword_est estimates the post-merge subword count with the
# standard ~4-chars-per-token heuristic applied per pre-token
# (ceil(len/4)) — the budget estimator a packing/pricing pipeline
# uses when the real tokenizer is too expensive to run corpus-wide.

_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")  # quote-doubled for the SQL literal

TXT_BPE_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{_BPE_PAT_SQL}') AS ts FROM documents
)
SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS n_bpe_tokens,
       CAST(list_sum(list_transform(ts, t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))
            AS BIGINT) AS n_subword_est
FROM toks
"""


@query("txt_tokens_bpe", oracle=TXT_BPE_SQL)
def txt_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    ts = F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))
    return d.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_bpe_tokens"),
        F.aggregate(
            F.transform(ts, lambda t: F.ceil(F.length(t) / 4.0)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("n_subword_est"),
    )
