"""SURVEY §2.B additions (round 5, fourth session) — graph analytics
beyond PageRank / connected components: degree-oriented triangle
counting (oracle-verified).

Graph: parts co-purchased within the same order during the dataset's
first half-year (a fixed query predicate — co-purchase graphs densify
over unbounded windows, so a real deployment counts triangles per
time slice). Edges are canonical (u < v) distinct pairs; counting
uses the standard degree-orientation trick (orient every edge from
its lower-(degree, key) endpoint), which bounds out-degree by
O(sqrt(m)) and wedge generation by Σ out_deg² — the scalable
distributed triangle algorithm, never an all-pairs pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._nodekeys import enc_cust, enc_supp, node_str
from redmap_spark.inventory.registry import query

TRI_SQL = """
WITH li AS (
  SELECT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-07-01'
), pairs AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs) e
  GROUP BY 1
), oe AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
              THEN u ELSE v END AS s,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
              THEN v ELSE u END AS t
  FROM pairs
  JOIN deg du ON du.node = u
  JOIN deg dv ON dv.node = v
), wedges AS (
  SELECT e1.t AS x, e2.t AS y
  FROM oe e1 JOIN oe e2 ON e1.s = e2.s AND e1.t < e2.t
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM wedges w
             JOIN pairs ON pairs.u = w.x AND pairs.v = w.y) AS BIGINT)
         AS n_triangles
"""


@query("mr_triangles", oracle=TRI_SQL)
def mr_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redmap_spark.operators.analytics import copurchase_pairs, triangle_stats

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_shipdate") < "1995-07-01")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    return triangle_stats(copurchase_pairs(li))


# -- mr_kcore ----------------------------------------------------------
#
# k-core decomposition (bounded peeling) over the symmetrized
# customer–supplier transaction graph (same edge set as mr_pagerank /
# mr_connected_components / mr_bfs): each round drops every node with
# degree < k and restricts the edge set to surviving endpoints — the
# standard iterative "peel" that isolates the dense engagement core
# (community seeding, influence pruning, spam-farm detection). Rounds
# are FIXED at 3 so the oracle states the identical computation as
# chained CTEs. Scale contract of the graph family: per round, ONE
# degree groupBy over the edge table plus two broadcast semi-joins of
# the |nodes|-sized keep vector (edges never reshuffle on a new key;
# at node counts past broadcast range the joins fall back to shuffle
# joins on the same plan). Rounds execute eagerly behind
# localCheckpoints; the per-round summary (nodes/edges surviving) is
# bounded driver-side planning metadata — 2 scalars per round.

KCORE_K = 25

MRKCORE_SQL = f"""
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), d1 AS (
  SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1
), k1 AS (SELECT node FROM d1 WHERE d >= {KCORE_K}),
e1 AS (
  SELECT e.src, e.dst FROM edges e
  JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node
), d2 AS (
  SELECT src AS node, COUNT(*) AS d FROM e1 GROUP BY 1
), k2 AS (SELECT node FROM d2 WHERE d >= {KCORE_K}),
e2 AS (
  SELECT e.src, e.dst FROM e1 e
  JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node
), d3 AS (
  SELECT src AS node, COUNT(*) AS d FROM e2 GROUP BY 1
), k3 AS (SELECT node FROM d3 WHERE d >= {KCORE_K}),
e3 AS (
  SELECT e.src, e.dst FROM e2 e
  JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node
)
SELECT CAST(1 AS BIGINT) AS round,
       CAST((SELECT COUNT(*) FROM k1) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) // 2 FROM e1) AS BIGINT) AS n_edges
UNION ALL
SELECT CAST(2 AS BIGINT), CAST((SELECT COUNT(*) FROM k2) AS BIGINT),
       CAST((SELECT COUNT(*) // 2 FROM e2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), CAST((SELECT COUNT(*) FROM k3) AS BIGINT),
       CAST((SELECT COUNT(*) // 2 FROM e3) AS BIGINT)
"""


@query("mr_kcore", oracle=MRKCORE_SQL)
def mr_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    orders = c.orders
    e0 = (
        orders.join(
            c.lineitem.select("l_orderkey", "l_suppkey"),
            orders.o_orderkey == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
        # BIGINT vertices throughout (cust=2k, supp=2k+1, _nodekeys):
        # the output is round/node/edge COUNTS, so no decode is ever
        # needed and every degree groupBy and keep-join hashes ints.
        .select(enc_cust(F.col("o_custkey")), enc_supp(F.col("l_suppkey")))
        # materialize the expensive fact-join edge build ONCE — the
        # symmetrizing union consumes it twice
        .localCheckpoint(eager=True)
    )
    edges = (
        e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # pinned hash-partitioned on SRC: the per-round degree groupBy
        # reuses it exchange-free, and the broadcast keep-joins +
        # select + re-checkpoint preserve it across rounds
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    rows = []
    for r in range(1, 4):
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
        keep = (
            deg.filter(F.col("d") >= KCORE_K)
            .select("node")
            .localCheckpoint(eager=True)
        )
        edges = (
            edges.join(
                F.broadcast(keep.withColumnRenamed("node", "src")), "src"
            )
            .join(F.broadcast(keep.withColumnRenamed("node", "dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        rows.append((r, keep.count(), edges.count() // 2))
    return spark.createDataFrame(rows, "round long, n_nodes long, n_edges long")


# -- mr_adamic_adar ----------------------------------------------------
#
# Adamic–Adar link prediction over the co-purchase graph (same edge
# derivation as mr_triangles): for each non-adjacent pair, score
# Σ_{w ∈ common neighbors} 1/ln(deg w) and report the top 20
# predicted links. Hub centers with degree > 64 are EXCLUDED from
# wedge generation — the standard hub-suppression cap (their 1/ln(d)
# contribution is negligible while their deg² wedge cost is the whole
# bill; the df-cap analog of dedup_jaccard_capped, and part of the
# statistic's definition here so the oracle states it too). Per-center
# terms are rounded to DECIMAL(18,6) before summing, so pair scores
# are exact and order-independent; the top-20 cut breaks ties on
# (u, v). Shape: wedges cost Σ_{deg≤64} deg² ≤ 64·2|E|; everything
# else is grid-sized joins.

AA_SQL = """
WITH li AS (
  SELECT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-07-01'
), pairs AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), adj AS (
  SELECT u AS s, v AS t FROM pairs UNION ALL SELECT v, u FROM pairs
), deg AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1
), ctr AS (
  SELECT a.s AS w, a.t, deg.d
  FROM adj a JOIN deg ON deg.node = a.s AND deg.d <= 64
), wed AS (
  SELECT a.t AS x, b.t AS y,
         CAST(round(1.0 / ln(a.d), 6) AS DECIMAL(18,6)) AS term
  FROM ctr a JOIN ctr b ON a.w = b.w AND a.t < b.t
), sc AS (
  SELECT x AS u, y AS v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(term) AS DOUBLE) AS aa
  FROM wed GROUP BY 1, 2
)
SELECT sc.u, sc.v, sc.n_common, sc.aa
FROM sc LEFT JOIN pairs ON pairs.u = sc.u AND pairs.v = sc.v
WHERE pairs.u IS NULL
ORDER BY sc.aa DESC, sc.u, sc.v
LIMIT 20
"""


@query("mr_adamic_adar", oracle=AA_SQL)
def mr_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redmap_spark.operators.analytics import copurchase_pairs

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_shipdate") < "1995-07-01")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    pairs = copurchase_pairs(li).localCheckpoint()
    adj = pairs.select(
        F.col("u").alias("s"), F.col("v").alias("t")
    ).unionAll(pairs.select(F.col("v").alias("s"), F.col("u").alias("t")))
    deg = adj.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ctr = adj.join(
        deg, (F.col("node") == F.col("s")) & (F.col("d") <= 64)
    ).select(F.col("s").alias("w"), "t", "d")
    a, b = ctr.alias("a"), ctr.alias("b")
    wed = a.join(
        b, (F.col("a.w") == F.col("b.w")) & (F.col("a.t") < F.col("b.t"))
    ).select(
        F.col("a.t").alias("x"),
        F.col("b.t").alias("y"),
        F.round(1.0 / F.log(F.col("a.d")), 6).cast("decimal(18,6)")
        .alias("term"),
    )
    sc = wed.groupBy(F.col("x").alias("u"), F.col("y").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum("term").cast("double").alias("aa"),
    )
    nonedge = sc.join(pairs, ["u", "v"], "anti")
    return nonedge.orderBy(
        F.col("aa").desc(), "u", "v"
    ).limit(20)


# -- mr_degree_dist ----------------------------------------------------
#
# Degree distribution of the co-purchase graph plus a Hill estimator
# for the power-law tail: α̂ = 1 + n_tail / Σ_{d ≥ dmin} ln(d/dmin)
# (dmin = 5) — the standard heavy-tail diagnostic that decides
# whether the skew mitigations (hub caps, salting) are needed at all.
# Per-node ln terms are rounded to DECIMAL(18,9) before summing
# (order-independent); the histogram and the 1-row tail fit join by
# broadcast. Shape: one degree groupBy over the edge table, then
# |distinct degrees|-sized work.

DEGDIST_SQL = """
WITH li AS (
  SELECT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-07-01'
), pairs AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs) e
  GROUP BY 1
), hist AS (
  SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY 1
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(SUM(CAST(round(ln(d / 2.0), 9) AS DECIMAL(18,9)))
              AS DOUBLE) AS lsum
  FROM deg WHERE d >= 2
)
SELECT degree, n_nodes,
       round(n_nodes / CAST((SELECT SUM(n_nodes) FROM hist) AS DOUBLE), 6)
         AS node_share,
       CAST((SELECT n_tail FROM fit) AS BIGINT) AS n_tail,
       CASE WHEN (SELECT lsum FROM fit) > 0 THEN
         round(1.0 + (SELECT n_tail FROM fit)
                     / (SELECT lsum FROM fit), 6) END AS alpha_hill
FROM hist
"""


@query("mr_degree_dist", oracle=DEGDIST_SQL)
def mr_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redmap_spark.operators.analytics import copurchase_pairs

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_shipdate") < "1995-07-01")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    pairs = copurchase_pairs(li)
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    fit = deg.filter(F.col("d") >= 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.sum(
            F.round(F.log(F.col("d") / 2.0), 9).cast("decimal(18,9)")
        ).cast("double").alias("lsum"),
    )
    total = hist.agg(F.sum("n_nodes").cast("double").alias("tot"))
    return (
        hist.join(F.broadcast(total))
        .join(F.broadcast(fit))
        .select(
            "degree", "n_nodes",
            F.round(F.col("n_nodes") / F.col("tot"), 6).alias("node_share"),
            "n_tail",
            F.when(
                F.col("lsum") > 0,
                F.round(1.0 + F.col("n_tail") / F.col("lsum"), 6),
            ).alias("alpha_hill"),
        )
    )


# -- mr_label_propagation ----------------------------------------------
#
# Semi-synchronous label propagation communities (Raghavan et al.
# 2007) over the symmetrized customer–supplier graph (same edge set
# as mr_kcore / mr_pagerank): every node starts in its own community
# and each round adopts its neighbors' most frequent label, ties
# broken by the lexicographically smallest label — the deterministic
# variant of LPA that a distributed engine can replay (asynchronous
# random-order LPA is not reproducible; min-tiebreak synchronous LPA
# is). Rounds are FIXED at 2 so the oracle states the identical
# computation as chained CTEs. Output is the per-round community
# summary (count, largest size, singleton count) — the convergence
# dashboard, constant-size.
#
# Scale contract: per round, one edges⋈labels join (edges are
# repartitioned on dst once and checkpointed, so the per-round join
# reshuffles only the |nodes|-sized label table) feeding one
# (node,label) groupBy and one per-node argmax window over the
# node-sized vote grid. Labels checkpoint eagerly per round against
# quadratic lineage re-execution — the graph-family idiom. The
# per-round summary is 3 scalars driver-side.

LABELPROP_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), l0 AS (
  SELECT DISTINCT src AS node, src AS lbl FROM edges
), v1 AS (
  SELECT e.src AS node, l.lbl, COUNT(*) AS c
  FROM edges e JOIN l0 l ON l.node = e.dst
  GROUP BY 1, 2
), l1 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl) AS rn
    FROM v1
  ) WHERE rn = 1
), v2 AS (
  SELECT e.src AS node, l.lbl, COUNT(*) AS c
  FROM edges e JOIN l1 l ON l.node = e.dst
  GROUP BY 1, 2
), l2 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl) AS rn
    FROM v2
  ) WHERE rn = 1
), s1 AS (
  SELECT lbl, COUNT(*) AS sz FROM l1 GROUP BY 1
), s2 AS (
  SELECT lbl, COUNT(*) AS sz FROM l2 GROUP BY 1
)
SELECT CAST(1 AS BIGINT) AS round,
       CAST(COUNT(*) AS BIGINT) AS n_communities,
       CAST(MAX(sz) AS BIGINT) AS top_size,
       CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singletons
FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(MAX(sz) AS BIGINT),
       CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM s2
ORDER BY round
"""


@query("mr_label_propagation", oracle=LABELPROP_SQL)
def mr_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    orders = c.orders
    e0 = (
        orders.join(
            c.lineitem.select("l_orderkey", "l_suppkey"),
            orders.o_orderkey == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
        # BIGINT vertex keys (cust=2k, supp=2k+1, _nodekeys); labels
        # stay 'c…'/'s…' STRINGS because the oracle's vote tie-break
        # (count DESC, label ASC) is stated in string space — the
        # string is payload, the shuffle/join keys are ints.
        .select(enc_cust(F.col("o_custkey")), enc_supp(F.col("l_suppkey")))
        .localCheckpoint(eager=True)
    )
    edges = (
        e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # partition on the probe key ONCE: each round's labels join
        # reuses this partitioning (only the label table reshuffles)
        .repartition("dst")
        .localCheckpoint(eager=True)
    )
    labels = None  # round 1 derives labels straight from the edges
    rows = []
    for r in (1, 2):
        if r == 1:
            # Round-1 degenerate argmax: initial labels are all
            # distinct, so every vote count is 1 and the (count DESC,
            # label ASC) winner is simply the MIN neighbor id — one
            # map-side-combinable groupBy, no join, no window. Same
            # result as the general form the oracle states.
            labels = (
                edges.groupBy(F.col("src").alias("node"))
                .agg(F.min(node_str(F.col("dst"))).alias("lbl"))
                .localCheckpoint(eager=True)
            )
        else:
            votes = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy(F.col("src").alias("vnode"), "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            w = Window.partitionBy("vnode").orderBy(F.desc("c"), F.asc("lbl"))
            labels = (
                votes.select(
                    F.col("vnode").alias("node"), "lbl",
                    F.row_number().over(w).alias("rn"),
                )
                .filter(F.col("rn") == 1)
                .select("node", "lbl")
                .localCheckpoint(eager=True)
            )
        sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
        summ = sizes.agg(
            F.count(F.lit(1)).alias("nc"),
            F.max("sz").alias("top"),
            F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).alias("single"),
        ).first()
        rows.append((r, summ.nc, summ.top, int(summ.single)))
    return spark.createDataFrame(
        rows, "round long, n_communities long, top_size long, n_singletons long"
    ).orderBy("round")


# -- mr_clustering_coeff -----------------------------------------------
#
# Local clustering coefficient per node over the co-purchase graph
# (same first-half-year edge derivation as mr_triangles): how
# interconnected each part's co-purchase neighborhood is,
# cc(v) = 2·tri(v)/(d(v)·(d(v)−1)) — the community-density feature
# behind spam/anomaly detection and graph embeddings. Triangles are
# enumerated once with the same degree-orientation trick (wedges
# from the lower-(degree,key) endpoint, closed against the canonical
# edge set — Σ out_deg² work, never all-pairs) and each triangle
# credits its three corners via one bounded 3× generate. Report:
# the 20 densest neighborhoods among nodes with degree ≥ 5
# (deterministic (cc DESC, node) order); coefficient is one double
# division of exact integers.

CLUSTER_COEFF_SQL = """
WITH li AS (
  SELECT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-07-01'
), pairs AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs) e
  GROUP BY 1
), oe AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
              THEN u ELSE v END AS s,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
              THEN v ELSE u END AS t
  FROM pairs
  JOIN deg du ON du.node = u
  JOIN deg dv ON dv.node = v
), tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM oe e1 JOIN oe e2 ON e1.s = e2.s AND e1.t < e2.t
  JOIN pairs ON pairs.u = LEAST(e1.t, e2.t)
            AND pairs.v = GREATEST(e1.t, e2.t)
), pt AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM (SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY 1
)
SELECT deg.node, deg.d AS degree,
       COALESCE(pt.n_tri, 0) AS n_triangles,
       round(2.0 * COALESCE(pt.n_tri, 0) / (deg.d * (deg.d - 1.0)), 6)
         AS clustering_coeff
FROM deg LEFT JOIN pt ON pt.node = deg.node
WHERE deg.d >= 5
ORDER BY clustering_coeff DESC, deg.node
LIMIT 20
"""


@query("mr_clustering_coeff", oracle=CLUSTER_COEFF_SQL)
def mr_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redmap_spark.operators.analytics import copurchase_pairs

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_shipdate") < "1995-07-01")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    pairs = copurchase_pairs(li).localCheckpoint(eager=True)
    deg = (
        pairs.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)  # consumed by orientation AND output
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    e1 = oe.select(F.col("s"), F.col("t").alias("t1"))
    e2 = oe.select(F.col("s"), F.col("t").alias("t2"))
    tri = (
        e1.join(e2, "s")
        .filter(F.col("t1") < F.col("t2"))
        .join(
            pairs,
            (F.col("u") == F.least("t1", "t2"))
            & (F.col("v") == F.greatest("t1", "t2")),
        )
        .select(F.col("s").alias("a"), F.col("t1").alias("b"), F.col("t2").alias("c"))
    )
    # one bounded 3× generate, NOT a 3-way union: union branches would
    # each re-plan the whole wedge-join subtree (no cross-branch CSE in
    # the physical plan — 19 SortMergeJoins vs 5, caught by plan_audit)
    pt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    return (
        deg.join(pt, "node", "left")
        .filter(F.col("d") >= 5)
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
            .alias("n_triangles"),
            F.round(
                2.0 * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("d") * (F.col("d") - F.lit(1.0))),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy(F.desc("clustering_coeff"), F.asc("node"))
        .limit(20)
    )


# -- mr_hits -----------------------------------------------------------
#
# HITS hubs & authorities (Kleinberg 1999), 2 fixed iterations over
# the directed customer→supplier purchase bipartite graph: authority
# = who the strong buyers buy from, hub = who buys from the strong
# suppliers — the complementary centrality to mr_pagerank (which
# ranks by inbound mass, not by mutual reinforcement). Each
# half-step sums the opposite side's scores along edges and
# max-normalizes; scores round to DECIMAL(18,12) after every
# normalization so both engines carry identical values and every
# edge-sum is an EXACT decimal aggregate (order-independent). The
# oracle states the identical half-steps as chained CTEs. Output:
# top-10 authorities and top-10 hubs with deterministic
# (score DESC, node) ties. Scale shape: the edge table shuffles once
# per half-step on its join key against the |nodes|-sized score
# vector; maxima are broadcast 1-row aggregates.

HITS_SQL = """
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), a1r AS (  -- auth half-step 1: hub0 = 1 ⇒ raw auth = in-degree
  SELECT s, CAST(COUNT(*) AS BIGINT) AS raw FROM e GROUP BY 1
), a1 AS (
  SELECT s, CAST(round(raw / CAST((SELECT MAX(raw) FROM a1r) AS DOUBLE), 12)
                 AS DECIMAL(18,12)) AS a
  FROM a1r
), h1r AS (
  SELECT e.c, CAST(SUM(a1.a) AS DECIMAL(28,12)) AS raw
  FROM e JOIN a1 ON a1.s = e.s GROUP BY 1
), h1 AS (
  SELECT c, CAST(round(CAST(raw AS DOUBLE)
                       / CAST((SELECT MAX(raw) FROM h1r) AS DOUBLE), 12)
                 AS DECIMAL(18,12)) AS h
  FROM h1r
), a2r AS (
  SELECT e.s, CAST(SUM(h1.h) AS DECIMAL(28,12)) AS raw
  FROM e JOIN h1 ON h1.c = e.c GROUP BY 1
), a2 AS (
  SELECT s, CAST(round(CAST(raw AS DOUBLE)
                       / CAST((SELECT MAX(raw) FROM a2r) AS DOUBLE), 12)
                 AS DECIMAL(18,12)) AS a
  FROM a2r
), h2r AS (
  SELECT e.c, CAST(SUM(a2.a) AS DECIMAL(28,12)) AS raw
  FROM e JOIN a2 ON a2.s = e.s GROUP BY 1
), h2 AS (
  SELECT c, CAST(round(CAST(raw AS DOUBLE)
                       / CAST((SELECT MAX(raw) FROM h2r) AS DOUBLE), 12)
                 AS DECIMAL(18,12)) AS h
  FROM h2r
), topa AS (
  SELECT 'authority' AS role, CAST(s AS BIGINT) AS node,
         round(CAST(a AS DOUBLE), 6) AS score,
         ROW_NUMBER() OVER (ORDER BY a DESC, s) AS rank
  FROM a2 QUALIFY rank <= 10
), toph AS (
  SELECT 'hub' AS role, CAST(c AS BIGINT) AS node,
         round(CAST(h AS DOUBLE), 6) AS score,
         ROW_NUMBER() OVER (ORDER BY h DESC, c) AS rank
  FROM h2 QUALIFY rank <= 10
)
SELECT role, node, score, CAST(rank AS BIGINT) AS rank FROM topa
UNION ALL
SELECT role, node, score, CAST(rank AS BIGINT) AS rank FROM toph
ORDER BY role, rank
"""


def _parquet_fits(path: str, max_bytes: int) -> bool:
    """Whether the local parquet file, or directory of part files (hidden
    and ``_`` files skipped), at ``path`` holds at most ``max_bytes``.
    False when unreadable (non-local URI): no byte evidence, no hint."""
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(path)
                for f in files
                if not f.startswith((".", "_"))
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        return False
    return size <= max_bytes


@query("mr_hits", oracle=HITS_SQL)
def mr_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    orders = cat.orders
    e = (
        orders.join(
            cat.lineitem.select("l_orderkey", "l_suppkey"),
            orders.o_orderkey == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)  # four half-step joins consume
    )

    def norm(df, key, raw_double):
        # eager checkpoint per half-step: the next half-step joins this
        # vector and the final top-10 union consumes the last two — no
        # lineage re-execution (the graph-family idiom)
        mx = df.agg(F.max(raw_double).alias("mx"))
        return df.join(F.broadcast(mx)).select(
            key,
            F.round(raw_double / F.col("mx"), 12)
            .cast("decimal(18,12)").alias("score"),
        ).localCheckpoint(eager=True)

    a1r = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("raw"))
    a = norm(a1r.select("s", F.col("raw").cast("double").alias("rawd")),
             "s", F.col("rawd"))
    # Broadcast the per-round score vectors: the checkpointed sides
    # have no size estimate, so without the hint the edge table
    # reshuffles per half-step (r11, guide §3.1). The AUTHORITY vector
    # is supplier-keyed (|suppliers| = 10k×SF — broadcast always); the
    # HUB vector is CUSTOMER-keyed (|customers| = 150k×SF, 15× larger
    # and data-scaled), so its hint is gated on the customer table's
    # leaf bytes (ADVICE r11): past ~64 MB of raw customer parquet the
    # two-column score projection approaches real broadcast-memory
    # cost and the hint is dropped — AQE/SMJ then picks the strategy.
    _hub_fits = _parquet_fits(cat.path("customer"), 64 * 1024 * 1024)
    for half in ("h1", "a2", "h2"):
        if half.startswith("h"):
            r = (
                e.join(F.broadcast(a.withColumnRenamed("score", "a")), "s")
                .groupBy("c")
                .agg(F.sum("a").cast("decimal(28,12)").alias("raw"))
            )
            a_or_h = norm(
                r.select("c", F.col("raw").cast("double").alias("rawd")),
                "c", F.col("rawd"),
            )
            h = a_or_h
        else:
            hv = h.withColumnRenamed("score", "h")
            r = (
                e.join(F.broadcast(hv) if _hub_fits else hv, "c")
                .groupBy("s")
                .agg(F.sum("h").cast("decimal(28,12)").alias("raw"))
            )
            a = norm(
                r.select("s", F.col("raw").cast("double").alias("rawd")),
                "s", F.col("rawd"),
            )
    wa = Window.orderBy(F.desc("score"), F.asc("s"))
    wh = Window.orderBy(F.desc("score"), F.asc("c"))
    topa = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("s").cast("bigint").alias("node"),
            F.round(F.col("score").cast("double"), 6).alias("sc"),
            F.row_number().over(wa).alias("rank"),
        )
        .filter(F.col("rank") <= 10)
    )
    toph = (
        h.select(
            F.lit("hub").alias("role"),
            F.col("c").cast("bigint").alias("node"),
            F.round(F.col("score").cast("double"), 6).alias("sc"),
            F.row_number().over(wh).alias("rank"),
        )
        .filter(F.col("rank") <= 10)
    )
    return (
        topa.union(toph)
        .select("role", "node", F.col("sc").alias("score"),
                F.col("rank").cast("bigint").alias("rank"))
        .orderBy("role", "rank")
    )


# -- mr_assortativity --------------------------------------------------
#
# Degree assortativity (Newman 2002) of the co-purchase graph: the
# Pearson correlation of endpoint degrees across edges — positive
# means hubs co-purchase with hubs (rich-club), negative means hubs
# anchor stars of low-degree parts; drives whether degree-capped
# algorithms (the df-cap family) help or hurt. Computed over the
# symmetrized edge list with EXACT integer moments (degrees are
# integers; Σjk, Σ(j+k), Σ(j²+k²) as bigints per the standard
# undirected estimator), one identical double expression at the end.
# Scale shape: one degree groupBy + one degree-annotated edge pass —
# grid-sized everything, no wedges.

ASSORT_SQL = """
WITH li AS (
  SELECT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-07-01'
), pairs AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
  GROUP BY 1
), ed AS (
  SELECT du.d AS j, dv.d AS k
  FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(j * k) AS BIGINT) AS sjk,
         CAST(SUM(j + k) AS BIGINT) AS sjpk,
         CAST(SUM(j * j + k * k) AS BIGINT) AS sj2k2
  FROM ed
)
SELECT m AS n_edges,
       round(CAST(sjk AS DOUBLE) / m
             - (sjpk / (2.0 * m)) * (sjpk / (2.0 * m)), 6) AS cov_term,
       round((sj2k2 / (2.0 * m))
             - (sjpk / (2.0 * m)) * (sjpk / (2.0 * m)), 6) AS var_term,
       round((CAST(sjk AS DOUBLE) / m
              - (sjpk / (2.0 * m)) * (sjpk / (2.0 * m)))
             / ((sj2k2 / (2.0 * m))
                - (sjpk / (2.0 * m)) * (sjpk / (2.0 * m))), 6)
         AS assortativity
FROM m
"""


@query("mr_assortativity", oracle=ASSORT_SQL)
def mr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from redmap_spark.operators.analytics import copurchase_pairs

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_shipdate") < "1995-07-01")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    pairs = copurchase_pairs(li).localCheckpoint(eager=True)
    deg = (
        pairs.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("j"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("k"))
    ed = pairs.join(du, "u").join(dv, "v").select("j", "k")
    m = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
        F.sum(F.col("j") + F.col("k")).cast("bigint").alias("sjpk"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("bigint").alias("sj2k2"),
    )
    md, sjk = F.col("m"), F.col("sjk")
    mu = F.col("sjpk") / (2.0 * md)
    cov = sjk.cast("double") / md - mu * mu
    var = F.col("sj2k2") / (2.0 * md) - mu * mu
    return m.select(
        md.alias("n_edges"),
        F.round(cov, 6).alias("cov_term"),
        F.round(var, 6).alias("var_term"),
        F.round(cov / var, 6).alias("assortativity"),
    )


# -- mr_scc ------------------------------------------------------------
#
# Strongly connected components of the DIRECTED nation-level supply
# graph: edge src→dst when suppliers in nation src ship an
# above-average number of line items to customers in nation dst
# (the data-adaptive cnt·n_pairs ≥ total integer threshold keeps the
# comparison exact at every SF). Reachability closes by REPEATED
# SQUARING on the reflexive edge set — 5 rounds cover paths ≤ 2⁵=32
# on a ≤25-node graph, so the closure is exact, with a per-round
# localCheckpoint cutting lineage. SCC(v) = min nation key among
# mutually-reachable nodes. The DuckDB oracle uses a recursive CTE
# for the same closure. Scale: the fact scan reduces to a ≤625-row
# pair grid BEFORE any iteration; every squaring join is grid-sized
# (this is the nation-rollup shape — a node-level SCC at 100 TB
# would instead run the same rounds on a bucketed edge table).

SCC_SQL = """
WITH RECURSIVE flows AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM flows
), edges AS (
  SELECT src, dst FROM flows CROSS JOIN tot
  WHERE cnt * n_pairs >= total
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
), rr AS (
  SELECT src, dst FROM reach
  UNION
  SELECT n_nationkey, n_nationkey FROM nation
), mutual AS (
  SELECT a.src AS v, a.dst AS u
  FROM rr a JOIN rr b ON b.src = a.dst AND b.dst = a.src
), scc AS (
  SELECT v, CAST(MIN(u) AS BIGINT) AS scc_id FROM mutual GROUP BY 1
), sizes AS (
  SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
  FROM scc GROUP BY 1
)
SELECT n.n_name, rep.n_name AS scc_rep, z.scc_size
FROM scc
JOIN nation n ON n.n_nationkey = scc.v
JOIN nation rep ON rep.n_nationkey = scc.scc_id
JOIN sizes z ON z.scc_id = scc.scc_id
ORDER BY n.n_name
"""


@query("mr_scc", oracle=SCC_SQL)
def mr_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    flows = (
        cat.lineitem.select("l_suppkey", "l_orderkey")
        .join(F.broadcast(cat.supplier.select("s_suppkey", "s_nationkey")),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cat.orders.select("o_orderkey", "o_custkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
              F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    flows = flows.cache()  # consumed by tot AND edges
    tot = flows.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    edges = (
        flows.join(F.broadcast(tot))
        .filter(F.col("cnt") * F.col("n_pairs") >= F.col("total"))
        .select("src", "dst")
    )
    nodes = cat.nation.select(
        F.col("n_nationkey").cast("bigint").alias("src"),
        F.col("n_nationkey").cast("bigint").alias("dst"),
    )
    # The reach grid is |nations|²-bounded (≤625 rows, SF-INDEPENDENT —
    # the fact scan already collapsed to it above), so the 5 squaring
    # rounds run on ONE partition. coalesce(1) (NOT repartition — that
    # is itself an exchange) marks the frame SinglePartition to the
    # planner, which satisfies both the join's and the distinct's
    # clustering requirements: each round is a 1-task narrow stage
    # with ZERO exchanges instead of a 32-wide SMJ + distinct exchange
    # (r12 — this entry's 8-core run used to BEAT its 32-core run,
    # ratio 0.38, pure tiny-shuffle scheduling overhead; guide
    # §2.3/§1.2 task-floor). localCheckpoint returns
    # UnknownPartitioning, so each round re-asserts coalesce(1).
    reach = (
        edges.union(nodes).coalesce(1).distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(5):  # squaring: paths ≤ 2^5 = 32 ≥ any 25-node path
        hop = reach.select(
            F.col("src").alias("a"), F.col("dst").alias("m")
        ).coalesce(1)
        ext = reach.select(
            F.col("src").alias("m"), F.col("dst").alias("b")
        ).coalesce(1)
        reach = (
            hop.join(ext, "m").select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    back = reach.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).coalesce(1)
    mutual = reach.coalesce(1).join(back, ["src", "dst"]).select(
        F.col("src").alias("v"), F.col("dst").alias("u")
    )
    scc = mutual.groupBy("v").agg(F.min("u").cast("bigint").alias("scc_id"))
    scc = scc.cache()  # consumed by sizes AND the output join
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("scc_size")
    )
    nat = F.broadcast(cat.nation.select("n_nationkey", "n_name"))
    rep = F.broadcast(
        cat.nation.select(
            F.col("n_nationkey").alias("rep_key"),
            F.col("n_name").alias("scc_rep"),
        )
    )
    return (
        scc.join(nat, F.col("n_nationkey") == F.col("v"))
        .join(rep, F.col("rep_key") == F.col("scc_id"))
        .join(sizes, "scc_id")
        .select("n_name", "scc_rep", "scc_size")
        .orderBy("n_name")
    )


# -- mr_digraph_stats --------------------------------------------------
#
# Directed-graph degree/reciprocity profile of the nation supply
# graph (the same above-average-flow edge build as mr_scc — shared
# by design, like copurchase_pairs across the undirected family):
# per nation out-degree, in-degree, and reciprocated-edge count,
# plus the global reciprocity ratio (share of non-loop edges whose
# reverse edge also exists) — the standard digraph summary before
# any flow/component analysis. Scale: fact scan → ≤625-row pair
# grid; every metric join is grid-sized.

DIGRAPH_SQL = """
WITH flows AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM flows
), edges AS (
  SELECT src, dst FROM flows CROSS JOIN tot
  WHERE cnt * n_pairs >= total AND src <> dst
), recip AS (
  SELECT e.src, e.dst,
         CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS rec
  FROM edges e
  LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
), outd AS (
  SELECT src AS nk, CAST(COUNT(*) AS BIGINT) AS out_deg,
         CAST(SUM(rec) AS BIGINT) AS reciprocated
  FROM recip GROUP BY 1
), ind AS (
  SELECT dst AS nk, CAST(COUNT(*) AS BIGINT) AS in_deg FROM edges
  GROUP BY 1
), gstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(rec) AS BIGINT) AS n_recip
  FROM recip
)
SELECT n.n_name,
       CAST(COALESCE(o.out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg,
       CAST(COALESCE(o.reciprocated, 0) AS BIGINT) AS reciprocated,
       g.n_edges,
       round(CASE WHEN g.n_edges > 0
                  THEN CAST(g.n_recip AS DOUBLE) / g.n_edges END, 6)
         AS reciprocity
FROM nation n
LEFT JOIN outd o ON o.nk = n.n_nationkey
LEFT JOIN ind i ON i.nk = n.n_nationkey
CROSS JOIN gstats g
ORDER BY n.n_name
"""


@query("mr_digraph_stats", oracle=DIGRAPH_SQL)
def mr_digraph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    flows = (
        cat.lineitem.select("l_suppkey", "l_orderkey")
        .join(F.broadcast(cat.supplier.select("s_suppkey", "s_nationkey")),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cat.orders.select("o_orderkey", "o_custkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
              F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    flows = flows.cache()  # consumed by tot AND edges
    tot = flows.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    edges = (
        flows.join(F.broadcast(tot))
        .filter(
            (F.col("cnt") * F.col("n_pairs") >= F.col("total"))
            & (F.col("src") != F.col("dst"))
        )
        .select("src", "dst")
    )
    edges = edges.cache()  # consumed as both sides of recip AND ind
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(1).alias("has_rev"),
    )
    recip = edges.join(rev, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("has_rev", F.lit(0)).alias("rec")
    )
    recip = recip.cache()  # consumed by outd AND glob
    outd = recip.groupBy(F.col("src").alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_deg"),
        F.sum("rec").cast("bigint").alias("reciprocated"),
    )
    ind = edges.groupBy(F.col("dst").alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_deg")
    )
    glob = recip.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("rec").cast("bigint").alias("n_recip"),
    )
    nat = cat.nation.select(
        F.col("n_nationkey").cast("bigint").alias("nk"), "n_name"
    )
    return (
        nat.join(outd, "nk", "left")
        .join(ind, "nk", "left")
        .join(F.broadcast(glob))
        .select(
            "n_name",
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
            F.coalesce("reciprocated", F.lit(0)).cast("bigint")
            .alias("reciprocated"),
            "n_edges",
            F.round(
                F.when(
                    F.col("n_edges") > 0,
                    F.col("n_recip").cast("double") / F.col("n_edges"),
                ), 6
            ).alias("reciprocity"),
        )
        .orderBy("n_name")
    )


# -- mr_modularity -----------------------------------------------------
#
# Newman modularity Q of the NATION partition over the distinct
# customer–supplier co-purchase graph (same edge set as
# mr_connected_components): Q = Σ_C [ l_C/m − (d_C/2m)² ] asks
# whether trade clusters within nations — the community-QUALITY
# metric on the categorical partition, complementing
# mr_assortativity's degree-mixing view and mr_label_propagation's
# community DISCOVERY. Per-nation rows expose each community's
# within-edge count l_C, degree volume d_C and signed contribution;
# the overall Q is the decimal-exact fold of the rounded per-nation
# terms, broadcast back onto every row. Scale: one distinct on the
# numeric key pair, two grid-sized degree aggs, one broadcast-dim
# join — no iteration, edges shuffle once.

MODULARITY_SQL = """
WITH e AS (
  SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), en AS (
  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
  FROM e JOIN customer c ON c.c_custkey = e.ck
         JOIN supplier s ON s.s_suppkey = e.sk
), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM en),
dc AS (
  SELECT nk, CAST(SUM(d) AS BIGINT) AS d_c FROM (
    SELECT cn AS nk, COUNT(*) AS d FROM en GROUP BY 1
    UNION ALL
    SELECT sn AS nk, COUNT(*) AS d FROM en GROUP BY 1
  ) GROUP BY 1
), lc AS (
  SELECT cn AS nk, CAST(COUNT(*) AS BIGINT) AS l_c
  FROM en WHERE cn = sn GROUP BY 1
), per AS (
  SELECT n.n_name, COALESCE(lc.l_c, 0) AS l_c, COALESCE(dc.d_c, 0) AS d_c,
         round(COALESCE(lc.l_c, 0) / CAST(m.m AS DOUBLE)
               - (COALESCE(dc.d_c, 0) / (2.0 * m.m))
               * (COALESCE(dc.d_c, 0) / (2.0 * m.m)), 9) AS contrib
  FROM nation n
  LEFT JOIN dc ON dc.nk = n.n_nationkey
  LEFT JOIN lc ON lc.nk = n.n_nationkey
  CROSS JOIN m
), q AS (
  SELECT CAST(SUM(CAST(contrib AS DECIMAL(18,9))) AS DOUBLE) AS q
  FROM per
)
SELECT per.n_name, per.l_c, per.d_c,
       round(per.contrib, 6) AS contribution,
       round(q.q, 6) AS modularity_q
FROM per CROSS JOIN q
ORDER BY per.n_name
"""


@query("mr_modularity", oracle=MODULARITY_SQL)
def mr_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    e = (
        cat.orders.select("o_orderkey", "o_custkey")
        .join(
            cat.lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    en = (
        e.join(
            F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(cat.supplier.select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .select(F.col("c_nationkey").alias("cn"), F.col("s_nationkey").alias("sn"))
    )
    en = en.cache()  # consumed by m, both degree aggs and l_c
    m = en.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    dc = (
        en.select(F.col("cn").alias("nk"))
        .union(en.select(F.col("sn").alias("nk")))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    lc = (
        en.filter(F.col("cn") == F.col("sn"))
        .groupBy(F.col("cn").alias("nk2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("l_c"))
    )
    md = F.col("m").cast("double")
    per = (
        cat.nation.select(F.col("n_nationkey").alias("nk"), "n_name")
        .join(dc, "nk", "left")
        .join(lc, F.col("nk") == F.col("nk2"), "left")
        .join(F.broadcast(m))
        .select(
            "n_name",
            F.coalesce("l_c", F.lit(0)).cast("bigint").alias("l_c"),
            F.coalesce("d_c", F.lit(0)).cast("bigint").alias("d_c"),
            F.round(
                F.coalesce("l_c", F.lit(0)) / md
                - (F.coalesce("d_c", F.lit(0)) / (2.0 * F.col("m")))
                * (F.coalesce("d_c", F.lit(0)) / (2.0 * F.col("m"))),
                9,
            ).alias("contrib"),
        )
    )
    per = per.cache()  # consumed by the Q fold AND the output rows
    q = per.agg(
        F.sum(F.col("contrib").cast("decimal(18,9)")).cast("double").alias("q")
    )
    return (
        per.join(F.broadcast(q))
        .select(
            "n_name", "l_c", "d_c",
            F.round("contrib", 6).alias("contribution"),
            F.round("q", 6).alias("modularity_q"),
        )
        .orderBy("n_name")
    )


# -- mr_ppr ------------------------------------------------------------
#
# Personalized PageRank from the best-connected customer node over
# the symmetrized customer–supplier purchase graph — the seeded
# variant of mr_pagerank (global importance) that answers "which
# nodes matter RELATIVE TO this one": the standard graph-proximity
# score for recommendation and expansion. Seed = highest-degree
# 'c'-node (degree DESC, node tie-break); 3 fixed rounds of
# r ← 0.15·e_seed + 0.85·A'r kept SPARSE (only touched nodes carry
# rows). The HITS determinism discipline: every per-edge
# contribution r/d rounds to DECIMAL(18,12) before the fold, every
# round's result re-rounds, so edge-sum order cannot drift either
# engine. Output: top-15 by score with (score DESC, node) ties.
# Scale shape: one shuffle per round on the contribution stream's
# dst key; the rank vector stays |touched nodes| rows.

PPR_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
), seed AS (
  SELECT src AS snode FROM deg WHERE src LIKE 'c%'
  ORDER BY d DESC, src LIMIT 1
), r0 AS (
  SELECT snode AS node, CAST(1.0 AS DECIMAL(18,12)) AS r FROM seed
), r1 AS MATERIALIZED (
  SELECT node, CAST(SUM(v) AS DECIMAL(18,12)) AS r FROM (
    SELECT e.dst AS node,
           CAST(round(0.85 * CAST(r0.r AS DOUBLE) / deg.d, 12)
                AS DECIMAL(18,12)) AS v
    FROM r0 JOIN edges e ON e.src = r0.node JOIN deg ON deg.src = r0.node
    UNION ALL
    SELECT snode, CAST(0.15 AS DECIMAL(18,12)) FROM seed
  ) GROUP BY 1
), r2 AS MATERIALIZED (
  SELECT node, CAST(SUM(v) AS DECIMAL(18,12)) AS r FROM (
    SELECT e.dst AS node,
           CAST(round(0.85 * CAST(r1.r AS DOUBLE) / deg.d, 12)
                AS DECIMAL(18,12)) AS v
    FROM r1 JOIN edges e ON e.src = r1.node JOIN deg ON deg.src = r1.node
    UNION ALL
    SELECT snode, CAST(0.15 AS DECIMAL(18,12)) FROM seed
  ) GROUP BY 1
), r3 AS (
  SELECT node, CAST(SUM(v) AS DECIMAL(18,12)) AS r FROM (
    SELECT e.dst AS node,
           CAST(round(0.85 * CAST(r2.r AS DOUBLE) / deg.d, 12)
                AS DECIMAL(18,12)) AS v
    FROM r2 JOIN edges e ON e.src = r2.node JOIN deg ON deg.src = r2.node
    UNION ALL
    SELECT snode, CAST(0.15 AS DECIMAL(18,12)) FROM seed
  ) GROUP BY 1
)
SELECT node, round(CAST(r AS DOUBLE), 9) AS ppr,
       CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS BIGINT) AS rank
FROM r3
ORDER BY rank LIMIT 15
"""


@query("mr_ppr", oracle=PPR_SQL)
def mr_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    e0 = (
        c.orders.join(
            c.lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        # BIGINT vertices (cust=2k, supp=2k+1, _nodekeys): every
        # round's contribution join/groupBy hashes ints; the oracle's
        # string-space tie-breaks (seed pick, final rank) decode via
        # node_str exactly where the ordering happens.
        .select(enc_cust(F.col("o_custkey")), enc_supp(F.col("l_suppkey")))
        .distinct()
    )
    edges = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # reused every round; pinned hash-partitioned on DST so each
    # round's contribution groupBy(dst) reuses the partitioning
    # (the rank/degree joins broadcast and preserve it)
    edges = edges.repartition("dst").localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    deg = deg.cache()
    seed = (
        deg.filter(F.col("src") % 2 == 0)
        .orderBy(F.desc("d"), node_str(F.col("src")))
        .limit(1)
        .select(F.col("src").alias("snode"))
    )
    seed = seed.cache()  # 1 row: teleport row every round
    r = seed.select(
        F.col("snode").alias("node"),
        F.lit(1.0).cast("decimal(18,12)").alias("r"),
    )
    teleport = seed.select(
        F.col("snode").alias("node"),
        F.lit(0.15).cast("decimal(18,12)").alias("v"),
    )
    for _ in range(3):
        # Broadcast the (tiny) rank vector and degrees into the
        # dst-partitioned edge stream; the heavy per-edge aggregation
        # then groups exchange-free. The 1-row teleport merges in a
        # second, |touched nodes|-sized aggregation — decimal sums are
        # exact, so splitting the fold changes nothing.
        contrib = (
            F.broadcast(r).join(edges, F.col("src") == F.col("node"))
            .join(F.broadcast(deg.select(F.col("src").alias("dsrc"), "d")),
                  F.col("dsrc") == F.col("node"))
            .select(
                F.col("dst").alias("cnode"),
                F.round(
                    0.85 * F.col("r").cast("double") / F.col("d"), 12
                )
                .cast("decimal(18,12)")
                .alias("v"),
            )
            .groupBy(F.col("cnode").alias("node"))
            .agg(F.sum("v").cast("decimal(18,12)").alias("v"))
        )
        r = (
            contrib.unionAll(teleport)
            .groupBy("node")
            .agg(F.sum("v").cast("decimal(18,12)").alias("r"))
            .localCheckpoint()  # pin per-round lineage (mr_pagerank rule)
        )
    # Only the top 15 survive, so take them FIRST (TakeOrderedAndProject
    # — per-partition top-k + driver merge, no singleton exchange of
    # the |nodes| frame, which scales with the data: 15k rows crossed
    # the old global-rank singleton at sf0.1) and rank the 15-row
    # result with an ordinary bounded window.
    top = (
        r.select(
            node_str(F.col("node")).alias("node"),
            F.round(F.col("r").cast("double"), 9).alias("ppr"),
            F.col("r"),
        )
        .orderBy(F.desc("r"), "node")
        .limit(15)
    )
    return top.select(
        "node",
        "ppr",
        F.row_number()
        .over(Window.orderBy(F.desc("r"), "node"))
        .cast("bigint")
        .alias("rank"),
    ).orderBy("rank")


# -- mr_matching -------------------------------------------------------
#
# Greedy maximal matching by locally-minimal edge keys (the classic
# distributed matching kernel: an edge joins the matching iff its key
# is the minimum at BOTH endpoints — conflict-free in one round, so
# rounds need no coordination): 3 fixed rounds over the distinct
# customer–supplier edge set, removing matched vertices between
# rounds via anti-joins. Edge keys are 'src>dst' strings (ASCII
# codepoint order — identical on both engines); every per-vertex MIN
# is an exact string aggregate, so the matching is fully
# deterministic. Output: per-round matched-edge counts plus the
# remaining-edge count. Scale shape per round: two groupBy-mins on
# the edge endpoints + two anti-joins — all on the natural vertex
# keys; the oracle unrolls the same rounds as MATERIALIZED CTEs.

def _matching_sql() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, 4):
        rounds.append(f"""vm{r} AS MATERIALIZED (
  SELECT v, MIN(ek) AS mek FROM (
    SELECT c AS v, ek FROM {prev}
    UNION ALL
    SELECT s AS v, ek FROM {prev}
  ) GROUP BY 1
), m{r} AS MATERIALIZED (
  SELECT e.c, e.s, e.ek
  FROM {prev} e
  JOIN vm{r} a ON a.v = e.c AND a.mek = e.ek
  JOIN vm{r} b ON b.v = e.s AND b.mek = e.ek
), e{r} AS MATERIALIZED (
  SELECT e.c, e.s, e.ek FROM {prev} e
  WHERE NOT EXISTS (SELECT 1 FROM m{r} m
                    WHERE m.c = e.c OR m.s = e.s)
)""")
        prev = f"e{r}"
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                  's' || CAST(l_suppkey AS VARCHAR) AS s,
                  'c' || CAST(o_custkey AS VARCHAR) || '>'
                      || 's' || CAST(l_suppkey AS VARCHAR) AS ek
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), {', '.join(rounds)}
SELECT * FROM (
  SELECT 1 AS round, CAST((SELECT COUNT(*) FROM m1) AS BIGINT) AS n_matched,
         CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS n_edges_remaining
  UNION ALL
  SELECT 2, CAST((SELECT COUNT(*) FROM m2) AS BIGINT),
         CAST((SELECT COUNT(*) FROM e2) AS BIGINT)
  UNION ALL
  SELECT 3, CAST((SELECT COUNT(*) FROM m3) AS BIGINT),
         CAST((SELECT COUNT(*) FROM e3) AS BIGINT)
) ORDER BY round
"""


@query("mr_matching", oracle=_matching_sql())
def mr_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    e = (
        cat.orders.join(
            cat.lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
        # BIGINT endpoint keys (cust=2k, supp=2k+1, _nodekeys) carry
        # every per-vertex MIN groupBy and both anti-joins; the edge
        # key ek stays the oracle's 'c…>s…' STRING because MIN-over-ek
        # semantics are stated in ASCII order — it rides as payload
        # only, derived once here.
        .select(
            enc_cust(F.col("o_custkey")).alias("c"),
            enc_supp(F.col("l_suppkey")).alias("s"),
            F.concat(
                F.lit("c"), F.col("o_custkey").cast("string"),
                F.lit(">s"), F.col("l_suppkey").cast("string"),
            ).alias("ek"),
        )
    )
    e = e.localCheckpoint()
    out = []
    for rnd in range(1, 4):
        vm = (
            e.select(F.col("c").alias("v"), "ek")
            .unionAll(e.select(F.col("s").alias("v"), "ek"))
            .groupBy("v")
            .agg(F.min("ek").alias("mek"))
            # pin the per-vertex min table (r12): both endpoint
            # broadcasts consume it, and un-pinned each broadcast
            # build re-ran the 2×|edges| min-aggregation — one
            # data-sized pass per round saved
            .localCheckpoint(eager=True)
        )
        m = (
            e.join(
                F.broadcast(
                    vm.select(F.col("v").alias("va"), F.col("mek").alias("ma"))
                ),
                (F.col("va") == F.col("c")) & (F.col("ma") == F.col("ek")),
            )
            .join(
                F.broadcast(
                    vm.select(F.col("v").alias("vb"), F.col("mek").alias("mb"))
                ),
                (F.col("vb") == F.col("s")) & (F.col("mb") == F.col("ek")),
            )
            .select("c", "s", "ek")
        )
        m = m.localCheckpoint()  # consumed by count + two anti-joins
        # matched set is <= |vertices| rows: broadcast both anti-joins
        # so the surviving-edge pass never shuffles
        e = (
            e.join(
                F.broadcast(m.select(F.col("c").alias("mc"))),
                F.col("mc") == F.col("c"),
                "left_anti",
            )
            .join(
                F.broadcast(m.select(F.col("s").alias("ms"))),
                F.col("ms") == F.col("s"),
                "left_anti",
            )
            .localCheckpoint()  # pin per-round lineage
        )
        out.append(
            m.agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
            .join(
                e.agg(
                    F.count(F.lit(1))
                    .cast("bigint")
                    .alias("n_edges_remaining")
                )
            )
            .select(
                F.lit(rnd).alias("round"),
                "n_matched",
                "n_edges_remaining",
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionAll(df)
    return res.orderBy("round")


# -- mr_bipartite_cc ---------------------------------------------------
#
# Robins-Alexander bipartite clustering coefficient of the
# customer–supplier purchase graph: ordinary clustering (mr_
# clustering_coeff) is identically 0 on a bipartite graph, so
# bipartite cohesion is 4-cycle density CC₄ = 4·C₄ / L₃ — closed
# quadrilaterals over length-3 paths. C₄ = Σ_{s<s'} C(m_ss', 2)
# where m_ss' counts customers shared by a supplier pair, built by
# the triangle-counting discipline: per-customer supplier-pair
# explode (cost Σ deg² — bounded per-customer degree), ONE groupBy.
# L₃ = Σ_{edges (c,s)} (deg_c − 1)·(deg_s − 1) — exact integer
# algebra on the degree-joined edge list. One summary row. Scale:
# the same Σ deg² growing-key regime documented for mr_triangles.

BIPARTITE_CC_SQL = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), degc AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS dc FROM e GROUP BY 1
), degs AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS ds FROM e GROUP BY 1
), sp AS (
  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS m
  FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
  GROUP BY 1, 2
), c4 AS (
  SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_c4 FROM sp WHERE m > 1
), l3 AS (
  SELECT CAST(SUM((dc.dc - 1) * (ds.ds - 1)) AS BIGINT) AS n_l3
  FROM e JOIN degc dc ON e.c = dc.c JOIN degs ds ON e.s = ds.s
), meta AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS n_customers,
         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_suppliers
  FROM e
)
SELECT m.n_customers, m.n_suppliers, m.n_edges,
       c4.n_c4, l3.n_l3,
       round(4.0 * c4.n_c4 / l3.n_l3, 6) AS bipartite_cc
FROM c4 CROSS JOIN l3 CROSS JOIN meta m
WHERE l3.n_l3 > 0
"""


@query("mr_bipartite_cc", oracle=BIPARTITE_CC_SQL)
def mr_bipartite_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    # In-row neighbor sets (r11, the q_bradley_terry pattern):
    # collect_set(s) per customer absorbs the DISTINCT and carries
    # deg_c as size(ss); the supplier-pair grid explodes the sorted
    # set's i < j upper triangle in-row (each a.s < b.s pair exactly
    # once — identical to the self-join on c), so the edge-list
    # self-join and its exchanges disappear. Same Σ deg² pair volume,
    # zero join. All terms are exact integer algebra, unchanged.
    g = (
        cat.orders.join(
            cat.lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
    )
    g = g.cache()  # feeds the pair explode, the edge explode and meta
    ex = g.select(
        "c", F.size("ss").cast("bigint").alias("dc"),
        F.explode("ss").alias("s"),
    )
    degs = ex.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("ds")
    )
    pair_expr = """
    flatten(
      transform(ss, (x, i) ->
        transform(slice(ss, i + 2, size(ss)), y ->
          named_struct('s1', x, 's2', y))))
    """
    sp = (
        g.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    m = F.col("m")
    c4 = sp.filter(m > 1).agg(
        F.sum(F.expr("m * (m - 1) div 2")).cast("bigint").alias("n_c4")
    )
    l3 = ex.join(F.broadcast(degs), "s").agg(
        F.sum((F.col("dc") - 1) * (F.col("ds") - 1))
        .cast("bigint")
        .alias("n_l3")
    )
    meta = g.agg(
        F.sum(F.size("ss")).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
    ).crossJoin(
        F.broadcast(
            degs.agg(F.count(F.lit(1)).cast("bigint").alias("n_suppliers"))
        )
    )
    return (
        c4.join(F.broadcast(l3))
        .join(F.broadcast(meta))
        .filter(F.col("n_l3") > 0)
        .select(
            "n_customers",
            "n_suppliers",
            "n_edges",
            "n_c4",
            "n_l3",
            F.round(4.0 * F.col("n_c4") / F.col("n_l3"), 6).alias(
                "bipartite_cc"
            ),
        )
    )
