"""Text-analysis operators over a document corpus (SURVEY §2.E).

All pure Column expressions — JVM-side, whole-stage-codegen'd; no
Python in the row loop. Each mirrors what a 100 TB training-data
pipeline runs per document: token counts, quality scores, language
ID, fingerprints.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language, used by the n-gram-heuristic language
# ID. (Lists are tiny: the expression stays a broadcast-free IN.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "das", "und", "ist"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "in", "to", "is")

WORD_RE = "[a-z]+"
PUNCT_RE = "[.,!?;:]"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def ws_token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_token_count(text: Column | str) -> Column:
    """BPE-ish regex token count (letter runs)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(WORD_RE))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PUNCT_RE)).cast("double") / F.length(c)


def marker_hits(text: Column | str, markers: tuple[str, ...]) -> Column:
    """# tokens that are in the marker list (array filter, JVM-side)."""
    return F.size(F.filter(tokens(text), lambda x: x.isin(*markers)))


def stopword_ratio(text: Column | str) -> Column:
    return marker_hits(text, STOPWORDS).cast("double") / ws_token_count(text)


def quality_score(text: Column | str) -> Column:
    """Heuristic quality in [0,1]: length component + stopword
    component (the shape real corpus filters use, e.g. Gopher rules)."""
    length_part = F.least(F.lit(1.0), ws_token_count(text) / F.lit(400.0))
    return 0.5 * length_part + 0.5 * stopword_ratio(text)


def langid(text: Column | str) -> Column:
    """argmax over per-language marker hit counts; 'und' when no
    marker hits at all. Deterministic tiebreak: en > es > de."""
    c_en = marker_hits(text, LANG_MARKERS["en"])
    c_es = marker_hits(text, LANG_MARKERS["es"])
    c_de = marker_hits(text, LANG_MARKERS["de"])
    return (
        F.when((c_en >= c_es) & (c_en >= c_de) & (c_en > 0), "en")
        .when((c_es >= c_de) & (c_es > 0), "es")
        .when(c_de > 0, "de")
        .otherwise("und")
    )


def normalized(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def fingerprint(text: Column | str) -> Column:
    """md5 of the normalized text — the exact-dedup key."""
    return F.md5(normalized(text))


def prefix_fingerprint(text: Column | str, n_chars: int = 64) -> Column:
    """Rolling/prefix fingerprint: md5 of the first n normalized chars
    (cheap first-pass blocking key for near-dedup)."""
    return F.md5(F.substring(normalized(text), 1, n_chars))


# ------------------------------------------ Gopher-style quality rules
#
# The signal set follows the public Gopher / MassiveText filtering
# rules (Rae et al. 2021, §A1.1): word count bounds, mean word length
# bounds, symbol-to-word ratio, fraction of words with an alphabetic
# character, and a minimum stopword hit count. All pure Column
# expressions — per-document, embarrassingly parallel at 100 TB.


def mean_word_length(text: Column | str) -> Column:
    t = tokens(text)
    total = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("double")), F.lit(0.0), lambda a, x: a + x
    )
    return F.round(total / F.size(t), 6)


def alpha_word_frac(text: Column | str) -> Column:
    """Fraction of tokens containing at least one letter."""
    t = tokens(text)
    return F.size(F.filter(t, lambda x: x.rlike("[a-z]"))).cast("double") / F.size(t)


def symbol_count(text: Column | str) -> Column:
    """# chars outside [a-z0-9 ] in the lowercased text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit("[^a-z0-9 ]"))


def gopher_passes(
    text: Column | str,
    min_words: int = 10,
    max_words: int = 1000,
    min_mwl: float = 2.0,
    max_mwl: float = 12.0,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    n = ws_token_count(text)
    mwl = mean_word_length(text)
    return (
        (n >= min_words)
        & (n <= max_words)
        & (mwl >= min_mwl)
        & (mwl <= max_mwl)
        & (alpha_word_frac(text) >= min_alpha_frac)
        & (marker_hits(text, STOPWORDS) >= min_stop_hits)
    )


# -------------------------------------------------------- PII redaction

PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    (r"\+?\d[\d -]{7,}\d", "<PHONE>"),
)


def redact_pii(text: Column | str) -> Column:
    """Chained global regexp_replace over the public PII pattern set.
    Order matters: emails before phones (digits in local parts), IPs
    before phones (dotted quads contain digit runs)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


# ------------------------------------------------ repetition detection


def top_bigram_frac(t: Column | str) -> Column:
    """Repetition signal (Gopher §A1.1 dup rules): the share of a token
    array's bigrams taken by its most frequent bigram, rounded to 6;
    NULL below 2 tokens. High ⇒ boilerplate / repeated phrases. Per
    row, no shuffle: the zipped offset slices are hashed (xxhash64) and
    sorted, and one fold finds the longest run of equal hashes. No
    lambda indexes ``t``: a pushed-down filter inlines the token split,
    and an indexing lambda would re-split it per bigram (dedup.py)."""
    t = F.col(t) if isinstance(t, str) else t
    n = F.size(t)
    pairs = F.arrays_zip(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1))
    hs = F.array_sort(F.transform(pairs, lambda p: F.xxhash64(p)))
    acc0 = F.struct(F.lit(None).cast("long").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))

    def step(acc: Column, h: Column) -> Column:
        run = F.when(acc["prev"] == h, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            h.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    best = F.aggregate(hs, acc0, step, lambda acc: acc["best"])
    return F.when(n >= 2, F.round(best / (n - 1).cast("double"), 6))


# ----------------------------------------------------- document chunking


def chunk_documents(
    df,
    chunk_tokens: int = 50,
    stride: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
):
    """Split documents into fixed-size token chunks with overlap
    (stride < chunk_tokens), the standard training-data prep step
    before tokenization. Pure JVM: pre-split token array (bound
    column), posexplode over the stride sequence, slice per chunk —
    1→N row expansion at scan parallelism, no shuffle, no Python."""
    tok = df.select(F.col(id_col), *keep, tokens(text_col).alias("t"))
    st = tok.select(
        id_col,
        *keep,
        "t",
        F.posexplode(F.sequence(F.lit(1), F.size("t"), F.lit(stride))).alias(
            "chunk_idx", "start"
        ),
    )
    sl = F.slice(F.col("t"), F.col("start"), chunk_tokens)
    return st.select(
        id_col,
        *keep,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(sl, " ").alias("chunk_text"),
        F.size(sl).cast("long").alias("n_chunk_tokens"),
    )


def blocklist_hit_ratio(text_col: Column | str, terms: list[str]) -> Column:
    """Fraction of whitespace tokens that are deny-listed terms,
    rounded to 6 (the txt_blocklist decision input — ONE shared
    expression so the inventory report and the fluent Pipeline gate
    can never drift). NULL text yields NULL; callers must pick the
    txt_blocklist convention (NULL → unblocked) explicitly."""
    tk = F.split(text_col, " ")
    hits = F.size(F.filter(tk, lambda x: x.isin(list(terms))))
    return F.round(hits / F.size(tk).cast("double"), 6)


def flesch_score(text_col: Column | str) -> Column:
    """Flesch reading-ease as one column expression (the same
    vowel-group/sentence heuristics as inventory txt_readability,
    rounded to 4): 206.835 − 1.015·(W/S) − 84.6·(Syl/W). NULL for
    empty token streams."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    w = F.size(F.split(c, " "))
    s = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(c, F.lit("[.!?]+"), F.lit(0)))
    )
    syl = F.size(
        F.regexp_extract_all(F.lower(c), F.lit("[aeiouy]+"), F.lit(0))
    )
    return F.when(
        w > 0,
        F.round(
            206.835 - 1.015 * (w / s.cast("double"))
            - 84.6 * (syl / w.cast("double")),
            4,
        ),
    )
