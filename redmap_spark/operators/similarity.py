"""Similarity search over an embedding column (SURVEY §2.D).

Three tiers:
- brute-force cosine top-k: the exactness baseline (one pass, no
  shuffle beyond the final top-k);
- random-hyperplane LSH: bucket the corpus once, probe one bucket —
  the sub-linear scale path for high-QPS lookups;
- IVF: centroid-partitioned probe (nprobe=1) using a cluster/label
  column as the coarse quantizer.

Vector math is pure Column lambdas (zip_with/aggregate) — JVM-side,
no Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redmap_spark.plans.partitioning import spread


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column, scale: int = 4) -> Column:
    return F.round(dot(a, b) / (norm(a) * norm(b)), scale)


def _query_row(df: DataFrame, id_col: str, vec_col: str, query_id: int) -> DataFrame:
    return df.filter(F.col(id_col) == query_id).select(as_double_vec(vec_col).alias("qv"))


def brute_force_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs the embedding of ``query_id``.
    The query vector is a 1-row broadcast; ranking ties break on id
    so the result set is deterministic."""
    q = _query_row(df, id_col, vec_col, query_id)
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    return (
        base.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(id_col, cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def brute_force_mips(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by INNER PRODUCT vs the embedding of ``query_id``
    (MIPS — the retrieval objective for unnormalized two-tower /
    recommender embeddings, where magnitude carries signal that
    cosine deliberately throws away). Same broadcast-scan shape as
    brute_force_topk: one pass, no shuffle beyond the final top-k;
    ties break on id."""
    q = _query_row(df, id_col, vec_col, query_id)
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    return (
        base.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(id_col, F.round(dot(F.col("v"), F.col("qv")), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def range_search(
    df: DataFrame,
    query_id: int,
    radius: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact radius search: every vector with cosine ≥ ``radius`` vs
    the query embedding (the all-matches dual of top-k — recall sets,
    duplicate sweeps, policy screens). Same broadcast-scan shape as
    brute_force_topk but with no global sort: the scan filters and
    emits, so at 100 TB this is one pass with no shuffle at all."""
    q = _query_row(df, id_col, vec_col, query_id)
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    return (
        base.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(id_col, cosine(F.col("v"), F.col("qv")).alias("score"))
        .filter(F.col("score") >= radius)
    )


# ------------------------------------------- int8 scalar quantization


def quantize_int8(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale s = max|x|,
    q[i] = round(x[i] * 127 / s). The quantized table (id, q8, s) is
    the at-rest ANN index — 4× smaller than float32 and 8× smaller
    than the double working form, which at 100 TB is the difference
    between an index that fits the page cache and one that doesn't.
    Cosine is invariant to the per-vector scale, so candidate scoring
    never needs ``s``; it is kept for reconstruction/debug."""
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    return (
        base.withColumn(
            "s", F.aggregate("v", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
        )
        .withColumn("q8", F.transform("v", lambda x: F.round(x * 127.0 / F.col("s")).cast("int")))
        .select(id_col, "q8", "s")
    )


def _int_cosine(a: Column, b: Column) -> Column:
    """Cosine over int8-quantized vectors, integer dot + integer
    square norms (per-vector scales cancel)."""
    ssum = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: (x * x).cast("long")), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    idot = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return idot.cast("double") / (F.sqrt(ssum(a).cast("double")) * F.sqrt(ssum(b).cast("double")))


def quantized_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rescore_factor: int = 4,
) -> DataFrame:
    """Approximate top-k via the int8 index with exact float rescore:
    (1) scan ONLY the compact quantized table, ranking by integer
    cosine; (2) keep ``rescore_factor * k`` candidates; (3) join the
    candidates back to the float embeddings and re-rank exactly. At
    scale phase 1 reads 4-8× fewer bytes than a float scan and phase
    3 touches only ~4k rows — the standard memory/IO shape of a
    quantized vector index (SQ8), expressed as two Catalyst plans."""
    qt = quantize_int8(df, id_col=id_col, vec_col=vec_col)
    qrow = qt.filter(F.col(id_col) == query_id).select(F.col("q8").alias("a8"))
    cand = (
        qt.crossJoin(F.broadcast(qrow))
        .filter(F.col(id_col) != query_id)
        .select(id_col, _int_cosine(F.col("q8"), F.col("a8")).alias("ascore"))
        .orderBy(F.desc("ascore"), F.asc(id_col))
        .limit(rescore_factor * k)
        .select(id_col)
    )
    q = _query_row(df, id_col, vec_col, query_id)
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    return (
        base.join(F.broadcast(cand), id_col)
        .crossJoin(F.broadcast(q))
        .select(id_col, cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ------------------------------------------------ random-hyperplane LSH

N_PLANES = 4


def _plane_sign(i: Column, j: int) -> Column:
    """Deterministic ±1 for plane j, dimension i (seeded by xxhash64)."""
    return F.when(
        F.shiftrightunsigned(F.xxhash64(F.concat(F.lit(f"p{j}|"), i.cast("string"))), 1)
        .bitwiseAND(F.lit(1)) == 1,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def lsh_bucket(vec: Column, n_planes: int = N_PLANES) -> Column:
    """Signed-random-projection bucket id: bit j = sign(v · plane_j)."""
    bucket = F.lit(0)
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(F.sequence(F.lit(0), F.size(vec) - 1), lambda i: _plane_sign(i, j)),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, 1 << j).otherwise(0)
    return bucket


def lsh_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: rank only vectors in the query's LSH bucket
    plus all buckets within ``multiprobe_bits`` bit flips (standard
    multiprobe — recovers recall without building more tables).
    At scale the bucketed table is precomputed + partitioned by
    bucket, so a probe touches nprobe partitions."""
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("v")).withColumn(
        "bucket", lsh_bucket(F.col("v"), n_planes)
    )
    q = base.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    # bucket matches if hamming(bucket, qbucket) <= multiprobe_bits
    match = F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= multiprobe_bits
    return (
        base.join(F.broadcast(q), match)
        .filter(F.col(id_col) != query_id)
        .select(id_col, cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ----------------------------------------------------------------- IVF


def ivf_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    dim: int = 64,
    nprobe: int = 3,
) -> DataFrame:
    """IVF probe: centroids = per-cluster mean vectors; search the
    ``nprobe`` clusters whose centroids are nearest the query."""
    base = df.select(F.col(id_col), F.col(cluster_col).alias("cl"), as_double_vec(vec_col).alias("v"))
    centroids = base.groupBy("cl").agg(
        F.array(*[F.avg(F.element_at("v", i + 1)) for i in range(dim)]).alias("cv")
    )
    q = base.filter(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    probed = (
        centroids.crossJoin(F.broadcast(q))
        .select("cl", cosine(F.col("cv"), F.col("qv"), scale=8).alias("cs"), "qv")
        .orderBy(F.desc("cs"), F.asc("cl"))
        .limit(nprobe)
        .select(F.col("cl").alias("probe_cl"), "qv")
    )
    return (
        base.join(F.broadcast(probed), F.col("cl") == F.col("probe_cl"))
        .filter(F.col(id_col) != query_id)
        .select(id_col, cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ------------------------------------------------------------ kNN join


def knn_join_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN join: every query row → its top-k corpus neighbors
    by cosine. The query side is broadcast (the small side by
    contract: a probe batch, not the corpus); ranking is a per-query
    window so the corpus is scanned exactly once regardless of the
    number of queries. For corpus×corpus self-join at 100 TB use
    ``knn_join_ivf`` — brute force is the recall oracle, not the
    scale path."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = spread(
        corpus.select(
            F.col(id_col).alias("c_id"), as_double_vec(vec_col).alias("v")
        ).withColumn("cn", norm(F.col("v")))
    )  # single-file corpus scans must not score |Q|x|C| on one core
    scored = (
        c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(dot(F.col("v"), F.col("qv")) / (F.col("cn") * F.col("qn")), 4).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def knn_join_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    dim: int = 64,
    nprobe: int = 2,
) -> DataFrame:
    """IVF k-NN join (the scale path): corpus is partitioned by its
    coarse-quantizer cluster; each query probes only its ``nprobe``
    nearest centroids. Per-query work drops from |corpus| to
    nprobe × |cluster|; the probe assignment is a broadcast of the
    (tiny) centroid table, and the candidate join shuffles on the
    cluster key — co-partitioned with a corpus table that is bucketed
    by cluster at rest."""
    from pyspark.sql import Window

    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(cluster_col).alias("cl"),
        as_double_vec(vec_col).alias("v"),
    ).withColumn("cn", norm(F.col("v")))
    centroids = c.groupBy("cl").agg(
        F.array(*[F.avg(F.element_at("v", i + 1)) for i in range(dim)]).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cl"))
    probes = (
        q.join(F.broadcast(centroids))
        .select("q_id", "qv", "qn", "cl", cosine(F.col("cv"), F.col("qv"), scale=8).alias("cs"))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", "qv", "qn", "cl")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        c.join(probes, "cl")
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(dot(F.col("v"), F.col("qv")) / (F.col("cn") * F.col("qn")), 4).alias(
                "score"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------- trained IVF quantizer (k-means)


def _l2_normalize(v: Column) -> Column:
    n = norm(v)
    return F.transform(v, lambda x: x / n)


def _nearest_centroid(vecs: DataFrame, cents: DataFrame, keep: tuple[str, ...]) -> DataFrame:
    """Assign each (id, v-normalized) row to its argmax-cosine
    centroid from the (tiny, broadcast) ``cents`` (cl, cv) table.
    Implemented as broadcast-join + per-id window — NOT as literal
    centroid expressions, which would force a whole-stage-codegen
    recompile every time the centroids change (measured ~6× slower
    over a 4-iteration Lloyd loop)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("cl"))
    return (
        vecs.join(F.broadcast(cents))
        .withColumn("sim", dot(F.col("nv"), F.col("cv")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keep, "cl")
    )


def train_spherical_kmeans_df(
    corpus: DataFrame,
    n_clusters: int = 10,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Distributed spherical k-means (Lloyd) for the IVF coarse
    quantizer, centroids kept as a DataFrame end-to-end. Each
    iteration: one broadcast-join assignment + one groupBy(cluster)
    mean — no Python in the row loop, no literals in the plan, and
    nothing but k×dim floats ever materialized (cached) per round.
    Init is deterministic: the n_clusters vectors with the smallest
    xxhash64(id) (a reproducible pseudo-random sample). At 100 TB you
    train on a sample partition and freeze the centroid table."""
    from pyspark.sql import Window

    c = corpus.select(
        F.col(id_col).alias("id"), _l2_normalize(as_double_vec(vec_col)).alias("nv")
    ).cache()
    init = c.withColumn("h", F.xxhash64("id")).orderBy("h", "id").limit(n_clusters)
    cents = init.select(
        (F.row_number().over(Window.orderBy("h", "id")) - 1).alias("cl"),
        F.col("nv").alias("cv"),
    ).cache()
    cents.count()
    for _ in range(iters):
        assigned = _nearest_centroid(c, cents, keep=("id", "nv"))
        means = assigned.groupBy("cl").agg(
            F.array(*[F.avg(F.element_at("nv", i + 1)) for i in range(dim)]).alias("mv")
        )
        new = (
            cents.join(means, "cl", "left")
            .select(
                "cl",
                F.when(F.col("mv").isNull(), F.col("cv"))  # empty cluster: keep old
                .otherwise(_l2_normalize(F.col("mv")))
                .alias("cv"),
            )
            .cache()
        )
        new.count()  # materialize: truncate the iteration lineage
        cents.unpersist()
        cents = new
    return cents


def knn_join_ivf_trained(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 10,
    nprobe: int = 2,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF k-NN join over a *trained* spherical-k-means quantizer
    (the corpus 'label' column is not cosine-coherent in general).
    The corpus is assigned once per run (broadcast-join argmax,
    shuffled on cluster); each query probes its nprobe nearest
    centroids. At rest the assigned corpus is a table bucketed by
    cl, so the candidate join is co-located."""
    from pyspark.sql import Window

    cents = train_spherical_kmeans_df(
        corpus, n_clusters=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim
    )
    c = (
        corpus.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v"))
        .withColumn("cn", norm(F.col("v")))
        .withColumn("nv", _l2_normalize(F.col("v")))
    )
    c_assigned = _nearest_centroid(c, cents, keep=("id", "v", "cn")).select(
        F.col("id").alias("c_id"), "v", "cn", "cl"
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv"))).withColumn("nv", _l2_normalize(F.col("qv")))
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cl"))
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("cs", dot(F.col("nv"), F.col("cv")))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", "qv", "qn", "cl")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        c_assigned.join(probes, "cl")
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(dot(F.col("v"), F.col("qv")) / (F.col("cn") * F.col("qn")), 4).alias(
                "score"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------- persisted IVF index


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    n_clusters: int = 10,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Materialize the IVF index at rest — the 'build once, query
    many' shape every production ANN service uses (training the
    quantizer per query batch, as knn_join_ivf_trained does, is the
    demo shape). Writes under ``index_path``:

    - ``centroids/``: the k×dim spherical-k-means codebook (tiny);
    - ``corpus/``: every vector with its precomputed norm, PARTITIONED
      BY its nearest-centroid cluster — so a probe of nprobe clusters
      is a partition-pruned scan that never touches the other
      (1 - nprobe/k) of the corpus at rest.
    """
    cents = train_spherical_kmeans_df(
        corpus, n_clusters=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim
    )
    cents.write.mode("overwrite").parquet(index_path.rstrip("/") + "/centroids")
    c = (
        corpus.select(F.col(id_col).alias("c_id"), as_double_vec(vec_col).alias("v"))
        .withColumn("cn", norm(F.col("v")))
        .withColumn("nv", _l2_normalize(F.col("v")))
    )
    assigned = _nearest_centroid(
        c.withColumnRenamed("c_id", "id"), cents, keep=("id", "v", "cn")
    ).select(F.col("id").alias("c_id"), "v", "cn", "cl")
    assigned.write.mode("overwrite").partitionBy("cl").parquet(
        index_path.rstrip("/") + "/corpus"
    )


def knn_join_ivf_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """k-NN join against a PERSISTED IVF index: no training, no
    corpus assignment — the codebook broadcasts from its tiny parquet,
    each query picks its nprobe clusters, and the candidate scan reads
    ONLY those cluster partitions (the probed-cluster set is collected
    — ≤ k cluster ids, driver-side planning metadata — and pushed as a
    partition-pruning isin filter)."""
    from pyspark.sql import Window

    base = index_path.rstrip("/")
    cents = spark.read.parquet(base + "/centroids")
    q = (
        queries.select(F.col(id_col).alias("q_id"), as_double_vec(vec_col).alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("nv", _l2_normalize(F.col("qv")))
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cl"))
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("cs", dot(F.col("nv"), F.col("cv")))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", "qv", "qn", "cl")
    )
    touched = [r.cl for r in probes.select("cl").distinct().collect()]
    corpus = spark.read.parquet(base + "/corpus").filter(F.col("cl").isin(touched))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        corpus.join(probes, "cl")
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(dot(F.col("v"), F.col("qv")) / (F.col("cn") * F.col("qn")), 4).alias(
                "score"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------- product quantization

PQ_M = 16         # subspaces (dsub=4: finer than the classic 8×8 at dim 64,
                  # measured recall 9/10 vs 4/10 at m=8 on the test corpus)
PQ_KSUB = 16      # centroids per subspace → 4-bit codes, 16 codes/vector
PQ_DIM = 64


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = PQ_DIM,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with Lloyd k-means on a
    bounded deterministic sample (smallest xxhash64(id) rows — the
    same reproducible pseudo-random draw the IVF trainer uses).

    Training on a fixed-size sample is the standard PQ shape (what
    faiss does): the collect is ``sample × dim`` doubles — constant
    w.r.t. corpus size, so this is driver-side planning metadata even
    at 100 TB, where you'd train on one sampled partition and freeze
    the codebook table. Vectors are L2-normalized first so the ADC
    inner product approximates cosine."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v"))
        .withColumn("h", F.xxhash64("id"))
        .orderBy("h", "id")
        .limit(sample)
        .select("v")
        .collect()
    )
    x = np.array([r.v for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dsub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        # deterministic init: first ksub distinct sample rows
        cents = sub[:ksub].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books.append(cents.tolist())
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-subcentroid codes —
    the at-rest PQ index table (id, codes array<int>): ``m`` (=PQ_M=16)
    small ints per vector vs 64 doubles, a ~32× smaller scan. Codebooks are
    FROZEN after training, so embedding them as literal expressions
    compiles whole-stage codegen exactly once (the recompile-per-
    change hazard only bites when the constants churn, as in the
    Lloyd loop — see _nearest_centroid)."""
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    base = corpus.select(F.col(id_col), as_double_vec(vec_col).alias("v")).withColumn(
        "n", norm(F.col("v"))
    )
    # argmin_c ||v/||v|| - c||^2  ⇔  argmax_c (<v,c> - ||v||*||c||²/2):
    # plain mult-add scalar expressions stay inside whole-stage codegen,
    # where zip_with/aggregate HOF lambdas would be interpreted per row.
    # Built as ONE sql string → ONE F.expr call: composing the ~1000
    # leaf Columns through the Python API costs a py4j round-trip per
    # operator, which dominated encode wall time at small SF.
    code_exprs = []
    for j in range(m):
        scores = []
        for c in range(ksub):
            cb = codebooks[j][c]
            dotp = " + ".join(
                f"element_at(v, {j * dsub + i + 1}) * {cb[i]!r}" for i in range(dsub)
            )
            half_c2 = sum(x * x for x in cb) / 2.0
            scores.append(f"({dotp}) - n * {half_c2!r}")
        arr = f"array({', '.join(scores)})"
        code_exprs.append(
            f"cast(array_position({arr}, array_max({arr})) - 1 as int)"
        )
    codes = F.expr(f"array({', '.join(code_exprs)})")
    return base.select(id_col, codes.alias("codes"))


def pq_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rescore_factor: int = 8,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation with
    exact rescore: (1) build the query's m×ksub lookup table of
    subspace inner products (driver-side: m*ksub floats from the one
    collected query row); (2) scan ONLY the code table, scoring each
    candidate as sum_j LUT[j][code_j] — m array lookups per row, no
    float vector IO; (3) exact-cosine rescore of the top
    rescore_factor*k against the full vectors. The phase-2 scan reads
    ~64× fewer bytes than a float scan — the PQ memory shape, as two
    Catalyst plans."""
    import numpy as np

    if codebooks is None:
        codebooks = train_pq_codebooks(df, id_col=id_col, vec_col=vec_col)
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    qrow = df.filter(F.col(id_col) == query_id).select(as_double_vec(vec_col).alias("qv")).collect()[0]
    qv = np.array(qrow.qv, dtype=np.float64)
    qv /= max(float(np.linalg.norm(qv)), 1e-12)
    # LUT[j][c] = <q_sub_j, codebook[j][c]>  (ADC for cosine on unit vectors)
    lut = [
        [float(np.dot(qv[j * dsub : (j + 1) * dsub], np.array(codebooks[j][c]))) for c in range(ksub)]
        for j in range(m)
    ]
    codes = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    ascore = F.expr(  # one sql string, not ~300 py4j-composed Columns
        " + ".join(
            "element_at(array({}), element_at(codes, {}) + 1)".format(
                ", ".join(repr(v) for v in lut[j]), j + 1
            )
            for j in range(m)
        )
    )
    cand = (
        codes.filter(F.col(id_col) != query_id)
        .select(id_col, ascore.alias("ascore"))
        .orderBy(F.desc("ascore"), F.asc(id_col))
        .limit(rescore_factor * k)
        .select(id_col)
    )
    q = _query_row(df, id_col, vec_col, query_id)
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    return (
        base.join(F.broadcast(cand), id_col)
        .crossJoin(F.broadcast(q))
        .select(id_col, cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ------------------------------------------------- diversity sampling


def diversity_sample(
    corpus: DataFrame,
    k: int = 10,
    pool: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Max-min (k-center greedy / farthest-point) diversity selection
    — the data-curation op that picks k embeddings spread across the
    space instead of k near-duplicates (Gonzalez 1985 2-approximation
    of the k-center objective).

    Distributed shape: greedy farthest-point is inherently sequential
    (each pick depends on all previous), so the selection runs on the
    driver over a BOUNDED candidate pool — the ``pool`` vectors with
    the smallest md5(id) (deterministic uniform subsample, same
    posture as q_hash_sample; at 100 TB the pool collect is ``pool``
    rows regardless of corpus size, and pool quality scales with
    pool/k, not corpus). Seed pick = min md5(id) (deterministic);
    every subsequent pick maximizes cosine distance to the nearest
    already-selected center, ties broken on id. Returns the selected
    (id, picked_order) as a DataFrame for a broadcast semi-join back
    to full rows."""
    import hashlib

    rows = (
        corpus.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v"))
        .withColumn("hk", F.md5(F.col("id").cast("string")))
        .orderBy("hk", "id")
        .limit(pool)
        .collect()
    )
    import math

    def normed(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    cand = {r.id: normed(r.v) for r in rows}
    order: list[int] = []
    if rows:
        first = rows[0].id
        order = [first]
        # nearest-center cosine similarity per remaining candidate
        best_sim = {
            i: sum(a * b for a, b in zip(v, cand[first]))
            for i, v in cand.items()
            if i != first
        }
        while len(order) < min(k, len(cand)):
            # farthest point = minimal similarity to nearest center
            nxt = min(best_sim, key=lambda i: (best_sim[i], i))
            order.append(nxt)
            del best_sim[nxt]
            nv = cand[nxt]
            for i in list(best_sim):
                s = sum(a * b for a, b in zip(cand[i], nv))
                if s > best_sim[i]:
                    best_sim[i] = s
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(int(i), p) for p, i in enumerate(order)], "vec_id long, picked_order int"
    )
