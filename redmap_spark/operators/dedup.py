"""Deduplication operators (SURVEY §2.C).

Scale posture (SURVEY §6): never O(n²) over the corpus. Candidate
pairs come from an equi-join on a blocking key — shared shingle,
MinHash LSH band, SimHash chunk, or cluster label — and only
candidates get exact scoring. All hashing is xxhash64 (JVM-side,
deterministic across runs/partitionings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redmap_spark.operators.textstats import fingerprint, tokens

# ---------------------------------------------------------------- exact


def exact_dedup_classes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct (normalized)
    text, keeping the smallest id as representative."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------- shingles / jaccard
#
# Shingles are represented as 64-bit xxhash64 values of the k-token
# window, never as strings: multi-arg xxhash64(tok_i, …, tok_{i+k-1})
# hashes the window in one JVM call, joins compare longs not strings,
# and (27k distinct shingles)²/2⁶⁴ makes collisions negligible.
#
# IMPORTANT plan note: the token split MUST be materialized as its own
# projection before any higher-order function references it. An
# F.split inlined into a lambda body is re-evaluated per array
# element (measured 8× slower on the shingle explode).


def _spread(df: DataFrame) -> DataFrame:
    """Fan small inputs out to the session's full parallelism.

    The shingle/signature derivations below are CPU-bound at ~100×
    their input bytes, and a small parquet file arrives in one scan
    partition — leaving every downstream hash single-threaded (and,
    worse, concurrent broadcast jobs racing to compute the same
    uncached partition). One exchange of the raw rows fixes both.
    Inputs that already have ≥ cores partitions (any real corpus at
    scale) pass through untouched, so this never ADDS a shuffle on
    the 100 TB path."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _token_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, t: array<string>) with the split materialized; docs with
    < k tokens dropped (they have no k-shingle)."""
    return (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("t"))
        .filter(F.size("t") >= k)
    )


def shingle_hashes_from_tokens(tok: Column, k: int = 3) -> Column:
    """Distinct hashed k-shingles from a *bound* token-array column."""
    idx = F.sequence(F.lit(1), F.size(tok) - (k - 1))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(*[F.element_at(tok, i + j) for j in range(k)]),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via hashed-shingle equi-join.

    The join key is the shingle hash: a pair is only ever scored if it
    shares ≥1 shingle, so cost is Σ(docs-per-shingle²), not n².
    ``max_shingle_df`` optionally drops shingles appearing in more
    than that many docs from *candidate generation* (the 100 TB knob —
    a pair at jaccard ≥ 0.5 shares many shingles, so rare ones still
    block it); None keeps exact any-shared-shingle semantics to match
    the SQL oracle. MinHash-LSH below is the preferred scale path.
    """
    # Materialized (cached) so (a) both sides of the self-join read
    # the shingle table instead of recomputing it, and (b) the
    # explode's inferred not-null filter binds to the cached column
    # rather than being pushed into the scan with the whole shingle
    # expression inlined (measured 4× slower). At 100 TB this
    # intermediate is a written shingle table.
    hs = (
        _token_rows(df, id_col, text_col, k)
        .select("id", shingle_hashes_from_tokens(F.col("t"), k).alias("hs"))
        .cache()
    )
    hs.count()  # eager: both self-join sides read it concurrently
    ex = hs.select("id", F.size("hs").alias("n"), F.explode("hs").alias("h"))
    if max_shingle_df is not None:
        # In-row candidate generation (r11): with the df cap, every
        # shingle's posting list is bounded by the cap, so ONE
        # groupBy(h) collects it, the size filter IS the rarity cap
        # (same count-rows-per-h semantics as the old count+join), and
        # the sorted list's i < j upper triangle emits each
        # (id1 < id2) co-occurrence in-row — the posting-list
        # self-join and its exchanges disappear; worst-row fanout is
        # cap^2, never data-sized.
        grouped = (
            ex.groupBy("h")
            .agg(F.array_sort(F.collect_list(F.struct("id", "n"))).alias("ds"))
            .filter(F.size("ds") <= max_shingle_df)
        )
        pair_expr = """
        flatten(
          transform(ds, (x, i) ->
            transform(slice(ds, i + 2, size(ds)), y ->
              named_struct('id1', x.id, 'n1', x.n,
                           'id2', y.id, 'n2', y.n))))
        """
        common = (
            grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy(
                F.col("p.id1").alias("id1"),
                F.col("p.id2").alias("id2"),
                F.col("p.n1").alias("n1"),
                F.col("p.n2").alias("n2"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        a, b = ex.alias("a"), ex.alias("b")
        common = (
            a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                F.col("a.n").alias("n1"),
                F.col("b.n").alias("n2"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return common.select("id1", "id2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directed shingle containment: c(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.

    Catches the asymmetric near-dups Jaccard misses — a short document
    fully quoted inside a long one scores containment ≈ 1 while its
    Jaccard stays low (|A∩B| / |A∪B| is diluted by the long side).
    Same scale shape as ngram_jaccard_pairs: the shared-shingle
    equi-join generates candidates (never n²), one count per unordered
    pair, then BOTH directions are emitted from that single count —
    no second join or shuffle for the reverse direction.
    """
    hs = (
        _token_rows(df, id_col, text_col, k)
        .select("id", shingle_hashes_from_tokens(F.col("t"), k).alias("hs"))
        .cache()
    )
    hs.count()  # eager: both self-join sides read it concurrently
    ex = hs.select("id", F.size("hs").alias("n"), F.explode("hs").alias("h"))
    if max_shingle_df is not None:  # production df-cap, as in jaccard
        rare = ex.groupBy("h").count().filter(F.col("count") <= max_shingle_df).select("h")
        ex = ex.join(rare, "h")
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # both directions from ONE pass over the pair counts (a unionAll of
    # two selects would re-execute the candidate join per branch)
    both = F.explode(
        F.array(
            F.struct(
                F.col("id1").alias("contained_id"),
                F.col("id2").alias("container_id"),
                F.round(F.col("c").cast("double") / F.col("n1"), 6).alias("containment"),
            ),
            F.struct(
                F.col("id2").alias("contained_id"),
                F.col("id1").alias("container_id"),
                F.round(F.col("c").cast("double") / F.col("n2"), 6).alias("containment"),
            ),
        )
    )
    return (
        common.select(both.alias("e"))
        .select("e.*")
        .filter(F.col("containment") >= threshold)
    )


# ------------------------------------------------------------- minhash


def _mix(h: Column, i: int) -> Column:
    """i-th hash of an already-hashed 64-bit value: one multi-arg
    xxhash64 over (long, int) — JVM-side, no string re-hashing per
    hash function, and no ANSI overflow (unlike multiply-shift)."""
    return F.xxhash64(h, F.lit(i))


def minhash_signature_from_hashes(hs: Column, num_hashes: int = 32) -> Column:
    """num_hashes MinHash values from pre-hashed shingles: per hash
    function i, min over arithmetic remixes of the base hashes."""
    def remix(i: int):
        # NB: must be a 1-arg lambda — a 2-arg lambda would make
        # F.transform pass the array index as the second argument
        return lambda h: _mix(h, i)

    return F.array(
        *[F.array_min(F.transform(hs, remix(i))) for i in range(num_hashes)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH candidates, verified with exact Jaccard.

    bands=8 × rows=4 over 32 hashes → candidate probability
    1-(1-j⁴)⁸ (≈0.96 at j=0.5). Candidates join on (band, band_hash)
    — the bucket-join that replaces the n² comparison at scale.
    """
    rows = num_hashes // bands
    # Materialize shingle hashes AND band hashes once, in one cached
    # intermediate. Three measured lessons baked in here:
    # (a) each derivation step is its own projection — projection
    #     collapsing would otherwise inline the split+hash into every
    #     consumer (and re-evaluate it per array element);
    # (b) the whole signature chain is built as SQL STRINGS in a few
    #     selectExpr calls, not composed Column objects: the 32-remix
    #     tree costs a py4j round-trip per node when composed in
    #     Python (measured ~1.5s of pure driver time per pair plan —
    #     the same lesson as the PQ ADC expressions, cd1c9b5);
    # (c) the cache is materialized EAGERLY (the count below) in one
    #     parallel job: the pair plan consumes it from four places
    #     (both band-join sides + both verification sides) which land
    #     as concurrent broadcast jobs racing to compute the same
    #     partitions redundantly if left lazy (observed as
    #     BlockManager "already exists" churn).
    # At cluster scale this intermediate would be a checkpointed table.
    shingle_sql = (
        "array_distinct(transform(sequence(1, size(t)-{km1}), "
        "i -> xxhash64({args})))"
    ).format(
        km1=k - 1,
        args=", ".join(f"element_at(t, i+{j})" for j in range(k)),
    )
    band_sql = "array(" + ", ".join(
        "xxhash64(" + ", ".join(f"m{b * rows + i}" for i in range(rows)) + ")"
        for b in range(bands)
    ) + ") AS bhs"
    hashed = (
        _token_rows(df, id_col, text_col, k)
        .selectExpr("id", f"{shingle_sql} AS hs")
        .selectExpr(
            "id", "hs",
            *[f"array_min(transform(hs, h -> xxhash64(h, {i}))) AS m{i}"
              for i in range(num_hashes)],
        )
        .selectExpr("id", "hs", band_sql)
        .cache()
    )
    hashed.count()
    # bhs carried whole through the explode so the self-join can apply
    # the first-matching-band condition
    banded = hashed.select(
        "id",
        "bhs",
        F.posexplode(F.col("bhs")).alias("band", "bh"),
    )

    # Emit each pair from its FIRST matching band only (∀ j < band:
    # bhs[j] differ) — every candidate appears exactly once, so no
    # distinct() over the candidate set (the dominant shuffle at
    # corpus scale).
    first_match = F.lit(True)
    for j in range(bands):
        first_match = first_match & (
            (F.col("a.band") <= j)
            | (F.col("a.bhs")[j] != F.col("b.bhs")[j])
        )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.bh") == F.col("b.bh"))
              & (F.col("a.id") < F.col("b.id"))
              & first_match)
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
    )
    s1 = hashed.select(F.col("id").alias("id1"), F.col("hs").alias("sh1"))
    s2 = hashed.select(F.col("id").alias("id2"), F.col("hs").alias("sh2"))
    c = F.size(F.array_intersect("sh1", "sh2"))
    jac = c.cast("double") / (F.size("sh1") + F.size("sh2") - c)
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------- simhash

SIMHASH_CHUNKS = 4
CHUNK_BITS = 16


def simhash_chunks(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc, stored as 4×16-bit chunk ints (the
    blocking representation: hamming ≤ r ⇒ some chunk equal for
    r < SIMHASH_CHUNKS)."""
    # hash once per token row — as a bound projection column, so the
    # 64 bit-aggregates below share it instead of each re-hashing
    tok = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"),
    ).select("id", F.xxhash64("t").alias("h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    bits = tok.groupBy("id").agg(*bit_aggs)
    chunk_cols = []
    for c in range(SIMHASH_CHUNKS):
        expr = F.lit(0)
        for j in range(CHUNK_BITS):
            bit = c * CHUNK_BITS + j
            expr = expr + F.when(F.col(f"b{bit}") > 0, 1 << j).otherwise(0)
        chunk_cols.append(expr.alias(f"c{c}"))
    return bits.select("id", *chunk_cols)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, candidates
    blocked on any equal 16-bit chunk."""
    # cached: read by both sides of the self-join (5000 rows × 4 ints
    # at sf0.1 — at 100 TB this is the written signature table)
    sh = simhash_chunks(df, id_col, text_col).cache()
    sh.count()  # eager: both self-join sides read it concurrently
    blocked = sh.select(
        "id", *[F.col(f"c{c}") for c in range(SIMHASH_CHUNKS)],
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("ci"), F.col(f"c{c}").alias("cv"))
            for c in range(SIMHASH_CHUNKS)
        ])).alias("blk"),
    ).select("id", "c0", "c1", "c2", "c3", F.col("blk.ci").alias("ci"), F.col("blk.cv").alias("cv"))

    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.c{c}").bitwiseXOR(F.col(f"b.c{c}")))
        for c in range(SIMHASH_CHUNKS)
    )
    # Emit each pair from its FIRST matching chunk only: for every
    # chunk j before the join chunk ci, require c_j to differ. Each
    # qualifying pair then appears exactly once, so no distinct() —
    # which at 100 TB deletes the biggest shuffle of this operator
    # (measured 8.1s → 0.7s at sf0.1 for identical output).
    first_match = F.lit(True)
    for j in range(SIMHASH_CHUNKS):
        first_match = first_match & (
            (F.col("a.ci") <= j) | (F.col(f"a.c{j}") != F.col(f"b.c{j}"))
        )
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id"))
            & first_match,
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"), hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------- embedding near-dup


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.3,
    scale: int = 4,
) -> DataFrame:
    """Cosine near-dup pairs within blocks (IVF-style: only pairs in
    the same cluster/label are scored — at 100 TB the block key is a
    coarse quantizer, not a full cross join). Scores rounded to
    ``scale`` decimals so the result is FP-order independent.

    Measured (sf0.1, 200k candidate pairs): the ``zip_with`` +
    ``aggregate`` dot product is 3-4× FASTER than an unrolled sum of 64
    ``v[i]*w[i]`` products — the unrolled expression tree blows past
    JIT/codegen method-size limits and falls off the fast path, while
    the HOF loop stays tight. Don't "optimize" this into explicit
    per-index terms."""
    e = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
    ).cache()  # both self-join sides read the normalized vectors once
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("a.norm") * F.col("b.norm")), scale)
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"), cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------- winnowing


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003):
    hash every k-char gram of the normalized text, then keep the
    minimum hash of each sliding window of ``window`` gram hashes.
    Guarantees: any match of length ≥ window+k-1 shares a
    fingerprint, and fingerprint density is ~2/(window+1).

    One row per (doc, distinct fingerprint) — the blocking key for
    plagiarism/near-dup lookup. Pure column expressions: char grams
    via substring over a sequence, window mins via transform+slice on
    the *bound* hash array (materialized projection — see module
    header for why the lambda must not re-derive its input).

    ``portable_hash=True`` hashes grams with the first 60 bits of md5
    (reproducible in any SQL engine — the DuckDB-oracle-checkable
    variant) instead of xxhash64 (faster; Spark-specific values)."""
    from redmap_spark.operators.textstats import normalized

    if portable_hash:
        def gram_hash(c):
            return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    else:
        gram_hash = F.xxhash64

    # Both intermediates are materialized: projection collapsing would
    # otherwise inline the normalization into every gram lambda call
    # and the whole gram transform into every window-min lambda call —
    # turning O(n·w) into O(n²·w) per document (measured: hangs).
    norm_t = _spread(df).select(
        F.col(id_col).alias("id"), normalized(text_col).alias("nt")
    ).filter(F.length("nt") >= k + window - 1)
    grams = norm_t.select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.length("nt") - (k - 1)),
            lambda i: gram_hash(F.substr("nt", i, F.lit(k))),
        ).alias("gh"),
    ).cache()
    wins = grams.select(
        "id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("gh") - (window - 1)),
                lambda i: F.array_min(F.slice(F.col("gh"), i, window)),
            )
        ).alias("fps"),
    )
    return wins.select("id", F.explode("fps").alias("fingerprint")).withColumnRenamed(
        "id", id_col
    )


# ------------------------------------------- pair → cluster resolution


def dup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 10,
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: every doc gets
    the minimum reachable doc id as its cluster label (transitive —
    a~b, b~c puts all three in cluster min(a,b,c)).

    ADAPTIVE, like AQE's small-side decisions: the pair graph after
    LSH blocking is orders of magnitude smaller than the corpus, and
    when it fits comfortably on the driver (≤ ``local_edge_threshold``
    edges ≈ tens of MB) the exact union-find answer costs microseconds
    there — versus several distributed rounds of join+checkpoint job
    overhead. Above the threshold (billion-edge graphs at 100 TB), the
    distributed path runs: iterative min-label propagation (the simple
    form of the MapReduce connected-components algorithms of Kiveris
    et al.) plus PATH HALVING — after each neighbor-min round every
    label is replaced by its label's label, so a chain of diameter D
    converges in O(log D) rounds; max_iters=10 covers diameters to
    ~2^10. Each round's labels are ``localCheckpoint``ed (eager):
    lineage truncates at a MATERIALIZED intermediate, so a later round
    never silently recomputes the label history if a cached block is
    evicted (at cluster scale the same shape writes a scratch table
    per round). Distributed labels stay DataFrames throughout.

    Warns (loudly) if max_iters rounds exhaust without reaching a fixed
    point — silent non-convergence would split one transitive cluster
    into several representatives downstream.

    Returns (id_col, cluster): cluster == id for unique docs; docs
    with cluster != id are the removable duplicates.
    """
    raw_edges = pairs.select(
        F.col("id1").cast("long").alias("src"),
        F.col("id2").cast("long").alias("dst"),
    )
    # Probe-collect with a hard cap instead of count-then-collect: one
    # Spark job instead of two in the (overwhelmingly common) small-
    # graph case, with driver memory bounded exactly the same way —
    # limit(threshold+1) can never pull more than the threshold. The
    # distinct() is dropped here too: union-find absorbs duplicate
    # edges for free, so the pre-collect shuffle bought nothing.
    collected = raw_edges.limit(local_edge_threshold + 1).collect()
    if len(collected) <= local_edge_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in collected:
            ra, rb = find(r.src), find(r.dst)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # representative = min id per component (find gives the min:
        # unions always re-root the larger id under the smaller)
        nodes = {r.src for r in collected} | {r.dst for r in collected}
        rows = [(int(x), int(find(x))) for x in nodes]
        spark = pairs.sparkSession
        labels = spark.createDataFrame(rows, "src long, lbl long")
        return (
            ids.select(F.col(id_col).alias("src"))
            .join(F.broadcast(labels), "src", "left")
            .select(
                F.col("src").alias(id_col),
                F.coalesce("lbl", F.col("src")).alias("cluster"),
            )
        )

    # Big-graph path: rebuild the edge set distributed-side (the probe
    # collect above only materialized a bounded prefix).
    pair_edges = raw_edges.distinct()
    edges = (
        pair_edges.union(
            pair_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .cache()
    )
    # Propagate only over nodes that appear in some pair: isolated docs
    # (the overwhelming majority of a deduped corpus) keep label == id
    # by definition and would otherwise pay every round's join +
    # checkpoint for nothing. They rejoin at the end.
    labels = (
        edges.select("src").distinct().withColumn("lbl", F.col("src"))
    ).localCheckpoint(eager=True)
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.select(F.col("src").alias("dst"), "lbl"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new = (
            labels.join(neighbor_min, "src", "left")
            .select("src", F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"))
        )
        # path halving: lbl <- label(lbl). Valid because label(x) <= x
        # and label(x) is always reachable from x, so the compressed
        # label stays inside x's component while chains collapse
        # exponentially.
        jumped = (
            new.join(
                new.select(F.col("src").alias("lbl"), F.col("lbl").alias("_lbl2")),
                "lbl",
                "left",
            )
            .select("src", F.coalesce("_lbl2", "lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.join(labels.select("src", F.col("lbl").alias("old")), "src")
            .filter(F.col("lbl") != F.col("old"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    if changed != 0:
        import warnings

        warnings.warn(
            f"dup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing): some transitive clusters "
            "may carry multiple representatives. Increase max_iters.",
            RuntimeWarning,
            stacklevel=2,
        )
    edges.unpersist()
    return (
        ids.select(F.col(id_col).alias("src"))
        .join(labels, "src", "left")
        .select(
            F.col("src").alias(id_col),
            F.coalesce("lbl", F.col("src")).alias("cluster"),
        )
    )


def near_dedup_keep_list(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH pairs → transitive clusters
    → keep one representative (the min id) per cluster. Returns the
    ids to KEEP."""
    pairs = minhash_lsh_pairs(df, id_col=id_col, text_col=text_col, threshold=threshold)
    clusters = dup_clusters(pairs, df.select(id_col), id_col=id_col)
    return clusters.filter(F.col(id_col) == F.col("cluster")).select(id_col)


# ------------------------------------------------------- duplicate spans


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 20,
) -> DataFrame:
    """Exact duplicate-SPAN detection: find token blocks repeated
    verbatim anywhere in the corpus (boilerplate headers, license
    blocks, templated paragraphs) — the sub-document complement to
    whole-doc dedup.

    Documents are cut into aligned ``width``-token blocks (the
    paragraph analogue for unstructured text; a trailing partial
    block can't be a full span and is dropped), each block is hashed,
    and blocks whose hash repeats (>= 2 occurrences) are emitted with
    the class representative — the occurrence with the smallest
    (doc_id, span_start). Downstream removal keeps the representative
    and cuts every other occurrence.

    Scale: per-doc work is linear (one split, n/width hashes computed
    inside a single ``transform``), the class roll-up is one
    hash-partitioned groupBy on fp with map-side partial aggregation,
    and the occurrence join reuses the same fp key (co-partitioned
    with the groupBy output — no extra shuffle stage beyond the
    join's own). Nothing is quadratic in corpus size; block hashes
    are 128-bit md5 so cross-class collisions are negligible.

    The representative is encoded as min(doc_id * 1e9 + span_start) —
    a single BIGINT min both engines compute identically (span_start
    < 1e9 tokens/doc is asserted by construction at width >= 1).
    """
    w = F.lit(width)
    spans = (
        df.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("t"))
        .filter(F.size("t") >= width)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), (F.size("t") / w).cast("int") - 1),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i * w + 1, w))),
                )
            ).alias("blk", "fp"),
        )
        .select("doc_id", (F.col("blk") * w).cast("long").alias("span_start"), "fp")
    )
    classes = (
        spans.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.col("doc_id") * F.lit(1_000_000_000) + F.col("span_start")).alias("rep_key"),
        )
        .filter(F.col("n_copies") >= 2)
    )
    return spans.join(classes, "fp").select(
        "doc_id",
        "span_start",
        F.lit(width).cast("long").alias("span_len"),
        "fp",
        F.expr("rep_key div 1000000000").alias("rep_doc"),
        (F.col("rep_key") % F.lit(1_000_000_000)).cast("long").alias("rep_start"),
        "n_copies",
        "n_docs",
    )


# ---------------------------------------------------- incremental dedup


def incremental_jaccard_matches(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus: exact n-gram
    Jaccard matches (new_id, corpus_id, jaccard ≥ threshold) via the
    shared-shingle equi-join — but strictly ACROSS the two inputs,
    never corpus×corpus. This is the production shape of continuous
    ingestion: the corpus side's shingle table is written once (here
    recomputed — the testdata has no stored index) and each
    incremental batch only pays |batch| shingling plus the candidate
    join against it. Cost per batch is independent of how many
    batches preceded it; the corpus-side re-pairing that full-corpus
    dedup does every run never happens."""
    ns = (
        _token_rows(new_df, id_col, text_col, k)
        .select("id", shingle_hashes_from_tokens(F.col("t"), k).alias("hs"))
        .cache()
    )
    cs = (
        _token_rows(corpus_df, id_col, text_col, k)
        .select("id", shingle_hashes_from_tokens(F.col("t"), k).alias("hs"))
        .cache()
    )
    ns.count(), cs.count()  # eager: joined from multiple consumers
    ne = ns.select(F.col("id").alias("new_id"), F.size("hs").alias("n1"), F.explode("hs").alias("h"))
    ce = cs.select(F.col("id").alias("corpus_id"), F.size("hs").alias("n2"), F.explode("hs").alias("h"))
    common = (
        ne.join(ce, "h")
        .groupBy("new_id", "corpus_id", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return common.select(
        "new_id", "corpus_id", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def simhash32_portable(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """32-bit SimHash per doc with md5-derived token hashes — the
    oracle-checkable twin of simhash_chunks (which uses xxhash64).

    Same plan shape as the production signature: one distinct-token
    explode, ONE groupBy carrying 32 conditional bit-sums (no row
    explosion over bit positions), bit assembly on the collapsed
    per-doc grid. md5-prefix hashing is what makes every signature
    bit reproducible in DuckDB; the xxhash64 variant stays the
    production call.
    """
    tok = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"),
    ).select(
        "id",
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(32)
    ]
    bits = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *bit_aggs)
    sim = F.lit(0).cast("bigint")
    for j in range(32):
        sim = sim + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(0)
    return bits.select(
        F.col("id").alias("doc_id"),
        sim.cast("bigint").alias("simhash"),
        F.col("n").cast("bigint").alias("n_tokens"),
    )


def minhash_portable(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 8) -> DataFrame:
    """k-hash MinHash signatures with md5-derived hashes — the
    oracle-checkable twin of the xxhash64 LSH signature path
    (which stays the production call; k=8 here keeps the checkable
    signature compact, production uses more bands).

    Plan shape identical to the production signature build: one
    distinct-shingle explode, ONE groupBy carrying k min-aggregates
    (no per-hash row explosion).
    """
    tok = _spread(df).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("t")
    )
    sh = tok.filter(F.size("t") >= 3).select(
        "id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(t) - 3), "
                    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                )
            )
        ).alias("s"),
    )
    aggs = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))), 1, 15),
                16,
                10,
            ).cast("bigint")
        ).alias(f"m{i}")
        for i in range(k)
    ]
    return sh.groupBy("id").agg(*aggs).select(
        F.col("id").alias("doc_id"), *[f"m{i}" for i in range(k)]
    )
