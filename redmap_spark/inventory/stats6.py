"""Causal / GLM / survey-design inventory batch 6: grouped logistic
IRLS, inverse-propensity-weighted ATE, cluster-sampling design effect,
and Brown's double exponential smoothing.

Reference parity: the reference's fold/reduce-by-key surface computes
arbitrary grouped moment folds; these entries re-express four
workhorse modeling steps as one- or two-pass exact-decimal moment
aggregations plus constant-size closed-form algebra (SURVEY §2 stats
block). Determinism contract as registry.py: exact decimal folds,
identical double chains on both engines, 6-rounded outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._normal import erfc_sqrt2, phi
from redmap_spark.inventory.registry import query, spread
from redmap_spark.plans.prefix import two_phase_cumsum

# -- q_logit_irls ------------------------------------------------------
#
# Grouped logistic regression of P(order is urgent-class priority) on
# order value, fit by THREE unrolled Newton/IRLS rounds (the
# q_poisson_irls pattern for the binomial family): orders collapse to
# a ≤13-row (price-bucket → trials m, successes y) grid in ONE
# partial-aggregated scan, then every IRLS round is a closed-form 2×2
# weighted least squares over that broadcast-tiny grid — η = β₀+β₁x,
# p = 1/(1+e^−η), weights w = m·p·(1−p), working response
# z = η + (y − m·p)/w. Init β₀ = logit(pooled rate), β₁ = 0.
# Scale: the fact scan happens once; iteration cost is constant work
# on 13 rows. Weighted moments fold 6-rounded DECIMAL(28,6) terms so
# partition order cannot perturb the fit on either engine.

LOGIT_SQL = """
WITH grid AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT), 12) AS bin,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM orders GROUP BY 1
), g AS (
  SELECT bin / 4.0 AS x, m, y FROM grid
), init AS (
  SELECT ln(CAST(SUM(y) AS DOUBLE) / (SUM(m) - SUM(y))) AS b0, 0.0 AS b1
  FROM g
), it1 AS (
  SELECT
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS sw,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))) * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swx,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))) * g.x * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swxx,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x)))
                        * (p.b0 + p.b1 * g.x)
                        + (g.y - g.m / (1.0 + exp(-(p.b0 + p.b1 * g.x)))), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swz,
    CAST(SUM(CAST(round((g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                                * (1.0 + exp(p.b0 + p.b1 * g.x)))
                         * (p.b0 + p.b1 * g.x)
                         + (g.y - g.m / (1.0 + exp(-(p.b0 + p.b1 * g.x)))))
                        * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swxz
  FROM g CROSS JOIN init p
), p1 AS (
  SELECT (swz * swxx - swxz * swx) / (sw * swxx - swx * swx) AS b0,
         (sw * swxz - swx * swz) / (sw * swxx - swx * swx) AS b1
  FROM it1 WHERE sw * swxx - swx * swx <> 0
), it2 AS (
  SELECT
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS sw,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))) * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swx,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))) * g.x * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swxx,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x)))
                        * (p.b0 + p.b1 * g.x)
                        + (g.y - g.m / (1.0 + exp(-(p.b0 + p.b1 * g.x)))), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swz,
    CAST(SUM(CAST(round((g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                                * (1.0 + exp(p.b0 + p.b1 * g.x)))
                         * (p.b0 + p.b1 * g.x)
                         + (g.y - g.m / (1.0 + exp(-(p.b0 + p.b1 * g.x)))))
                        * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swxz
  FROM g CROSS JOIN p1 p
), p2 AS (
  SELECT (swz * swxx - swxz * swx) / (sw * swxx - swx * swx) AS b0,
         (sw * swxz - swx * swz) / (sw * swxx - swx * swx) AS b1
  FROM it2 WHERE sw * swxx - swx * swx <> 0
), it3 AS (
  SELECT
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS sw,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))) * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swx,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x))) * g.x * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swxx,
    CAST(SUM(CAST(round(g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                               * (1.0 + exp(p.b0 + p.b1 * g.x)))
                        * (p.b0 + p.b1 * g.x)
                        + (g.y - g.m / (1.0 + exp(-(p.b0 + p.b1 * g.x)))), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swz,
    CAST(SUM(CAST(round((g.m / ((1.0 + exp(-(p.b0 + p.b1 * g.x)))
                                * (1.0 + exp(p.b0 + p.b1 * g.x)))
                         * (p.b0 + p.b1 * g.x)
                         + (g.y - g.m / (1.0 + exp(-(p.b0 + p.b1 * g.x)))))
                        * g.x, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS swxz
  FROM g CROSS JOIN p2 p
), p3 AS (
  SELECT (swz * swxx - swxz * swx) / (sw * swxx - swx * swx) AS b0,
         (sw * swxz - swx * swz) / (sw * swxx - swx * swx) AS b1
  FROM it3 WHERE sw * swxx - swx * swx <> 0
), tot AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM g
)
SELECT t.n, t.n_pos, t.n_bins,
       round(p.b0, 6) AS beta0,
       round(p.b1, 6) AS beta1,
       round(exp(p.b1), 6) AS odds_ratio_per_unit,
       round(1.0 / (1.0 + exp(-p.b0)), 6) AS p_at_x0,
       round(1.0 / (1.0 + exp(-(p.b0 + p.b1 * 2.0))), 6) AS p_at_x2
FROM p3 p CROSS JOIN tot t
"""


@query("q_logit_irls", oracle=LOGIT_SQL)
def q_logit_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    g = (
        o.groupBy(
            F.least(
                F.floor(F.col("o_totalprice") / 25000.0).cast("bigint"),
                F.lit(12).cast("bigint"),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
        .select((F.col("bin") / 4.0).alias("x"), "m", "y")
    )
    g = g.cache()  # ≤13 rows, consumed by init + 3 IRLS rounds + totals
    init = g.agg(
        F.log(
            F.sum("y").cast("double") / (F.sum("m") - F.sum("y"))
        ).alias("b0"),
        F.lit(0.0).alias("b1"),
    )
    p = init

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 6).cast("decimal(28,6)"))
            .cast("double")
            .alias(name)
        )

    for _ in range(3):
        eta = F.col("b0") + F.col("b1") * F.col("x")
        # w = m·p·(1−p) written as m / ((1+e^−η)(1+e^η)) so both
        # engines run the identical double chain
        w = F.col("m") / ((1.0 + F.exp(-eta)) * (1.0 + F.exp(eta)))
        # w·z = w·η + (y − m·p)
        mp = F.col("m") / (1.0 + F.exp(-eta))
        wz = w * eta + (F.col("y") - mp)
        it = g.join(F.broadcast(p)).agg(
            fold(w, "sw"),
            fold(w * F.col("x"), "swx"),
            fold(w * F.col("x") * F.col("x"), "swxx"),
            fold(wz, "swz"),
            fold(wz * F.col("x"), "swxz"),
        )
        det = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        p = it.filter(det != 0).select(
            (
                (F.col("swz") * F.col("swxx") - F.col("swxz") * F.col("swx"))
                / det
            ).alias("b0"),
            (
                (F.col("sw") * F.col("swxz") - F.col("swx") * F.col("swz"))
                / det
            ).alias("b1"),
        )

    tot = g.agg(
        F.sum("m").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )
    b0, b1 = F.col("b0"), F.col("b1")
    return p.join(F.broadcast(tot)).select(
        "n",
        "n_pos",
        "n_bins",
        F.round(b0, 6).alias("beta0"),
        F.round(b1, 6).alias("beta1"),
        F.round(F.exp(b1), 6).alias("odds_ratio_per_unit"),
        F.round(1.0 / (1.0 + F.exp(-b0)), 6).alias("p_at_x0"),
        F.round(1.0 / (1.0 + F.exp(-(b0 + b1 * 2.0))), 6).alias("p_at_x2"),
    )


# -- q_ipw_ate ---------------------------------------------------------
#
# Inverse-propensity-weighted average treatment effect (Horvitz-
# Thompson and stabilized Hajek forms) with stratum-estimated
# propensities: "exposure" is a deterministic md5-threshold rule whose
# rate VARIES BY market segment (the confounding q_ab_test's pure
# 50/50 split cannot exhibit), so the naive treated-vs-control spread
# and the IPW-deconfounded estimate genuinely differ. Propensities
# p̂(segment) come from exact per-segment counts; each customer's
# weighted outcome folds as a 6-rounded DECIMAL(28,6) term. Scale:
# one customer scan → 5-row segment grid (broadcast back) → one
# weighted-fold scan → 1 row. Complements q_cuped / q_diff_in_diff /
# q_cem_att in the causal block.

IPW_SQL = """
WITH c AS (
  SELECT c_mktsegment AS seg,
         CAST(c_acctbal AS DECIMAL(18,2)) AS y,
         CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) <
                   CASE c_mktsegment
                     WHEN 'AUTOMOBILE' THEN '3'
                     WHEN 'BUILDING'   THEN '6'
                     WHEN 'FURNITURE'  THEN '9'
                     WHEN 'HOUSEHOLD'  THEN 'b'
                     ELSE 'd' END
              THEN 1 ELSE 0 END AS t
  FROM customer
), seg AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_seg,
         CAST(SUM(t) AS BIGINT) AS nt_seg
  FROM c GROUP BY seg
), w AS (
  SELECT c.y, c.t,
         round(CAST(s.nt_seg AS DOUBLE) / s.n_seg, 6) AS ps
  FROM c JOIN seg s ON c.seg = s.seg
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN t = 1 THEN y END) AS DOUBLE) AS sy_t,
         CAST(SUM(CASE WHEN t = 0 THEN y END) AS DOUBLE) AS sy_c,
         CAST(SUM(CAST(round(CASE WHEN t = 1 THEN CAST(y AS DOUBLE) / ps
                                  ELSE 0.0 END, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_ty_w,
         CAST(SUM(CAST(round(CASE WHEN t = 0 THEN CAST(y AS DOUBLE) / (1.0 - ps)
                                  ELSE 0.0 END, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_cy_w,
         CAST(SUM(CAST(round(CASE WHEN t = 1 THEN 1.0 / ps
                                  ELSE 0.0 END, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_t_w,
         CAST(SUM(CAST(round(CASE WHEN t = 0 THEN 1.0 / (1.0 - ps)
                                  ELSE 0.0 END, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_c_w
  FROM w
)
SELECT n, n_t,
       round(sy_t / n_t - sy_c / (n - n_t), 6) AS naive_diff,
       round(s_ty_w / n - s_cy_w / n, 6) AS ipw_ate,
       round(s_ty_w / s_t_w - s_cy_w / s_c_w, 6) AS hajek_ate,
       round(s_t_w / n, 6) AS treated_weight_share,
       round(s_c_w / n, 6) AS control_weight_share
FROM agg
WHERE n_t > 0 AND n - n_t > 0
"""


@query("q_ipw_ate", oracle=IPW_SQL)
def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = Catalog(spark, sf_dir).customer
    thresh = (
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", "3")
        .when(F.col("c_mktsegment") == "BUILDING", "6")
        .when(F.col("c_mktsegment") == "FURNITURE", "9")
        .when(F.col("c_mktsegment") == "HOUSEHOLD", "b")
        .otherwise("d")
    )
    c = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("y"),
        F.when(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1)
            < thresh,
            1,
        )
        .otherwise(0)
        .alias("t"),
    )
    seg = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
        F.sum("t").cast("bigint").alias("nt_seg"),
    )
    w = c.join(F.broadcast(seg), "seg").select(
        "y",
        "t",
        F.round(F.col("nt_seg").cast("double") / F.col("n_seg"), 6).alias(
            "ps"
        ),
    )

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 6).cast("decimal(28,6)"))
            .cast("double")
            .alias(name)
        )

    is_t, is_c = F.col("t") == 1, F.col("t") == 0
    yd = F.col("y").cast("double")
    agg = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(F.when(is_t, F.col("y"))).cast("double").alias("sy_t"),
        F.sum(F.when(is_c, F.col("y"))).cast("double").alias("sy_c"),
        fold(F.when(is_t, yd / F.col("ps")).otherwise(0.0), "s_ty_w"),
        fold(F.when(is_c, yd / (1.0 - F.col("ps"))).otherwise(0.0), "s_cy_w"),
        fold(F.when(is_t, 1.0 / F.col("ps")).otherwise(0.0), "s_t_w"),
        fold(F.when(is_c, 1.0 / (1.0 - F.col("ps"))).otherwise(0.0), "s_c_w"),
    )
    n, nt = F.col("n"), F.col("n_t")
    return agg.filter((nt > 0) & (n - nt > 0)).select(
        "n",
        "n_t",
        F.round(
            F.col("sy_t") / nt - F.col("sy_c") / (n - nt), 6
        ).alias("naive_diff"),
        F.round(F.col("s_ty_w") / n - F.col("s_cy_w") / n, 6).alias(
            "ipw_ate"
        ),
        F.round(
            F.col("s_ty_w") / F.col("s_t_w")
            - F.col("s_cy_w") / F.col("s_c_w"),
            6,
        ).alias("hajek_ate"),
        F.round(F.col("s_t_w") / n, 6).alias("treated_weight_share"),
        F.round(F.col("s_c_w") / n, 6).alias("control_weight_share"),
    )


# -- q_design_effect ---------------------------------------------------
#
# Cluster-sampling design effect per region (Kish DEFF): treating
# nations as sampling clusters of customers and account balance as
# the survey variable, the one-way ANOVA ICC estimator
# ρ̂ = (MSB − MSW) / (MSB + (m₀ − 1)·MSW) with the unequal-cluster-
# size correction m₀ = (N − Σm²/N)/(k − 1), then
# DEFF = 1 + (m̄_w − 1)·ρ̂ at the weighted mean cluster size
# m̄_w = Σm²/N, and the effective sample size N/DEFF — the number
# that says how much a nation-clustered sample really buys vs SRS.
# Complements q_ess (weighting loss) and q_neyman_allocation
# (stratified gain). Scale: one customer scan partial-aggregates
# per-nation exact moments (≤25 rows), region algebra is constant.

DEFF_SQL = """
WITH cl AS (
  SELECT n.n_regionkey AS rk, c.c_nationkey AS nk,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS s,
         CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))
                  * CAST(c.c_acctbal AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS ss
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), reg AS (
  SELECT rk, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(m) AS BIGINT) AS n,
         CAST(SUM(s) AS DOUBLE) AS sy,
         CAST(SUM(ss) AS DOUBLE) AS syy,
         CAST(SUM(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / m, 4)
                       AS DECIMAL(38,4))) AS DOUBLE) AS s2m,
         CAST(SUM(m * m) AS BIGINT) AS smm
  FROM cl GROUP BY rk
), f AS (
  SELECT r.rk, r.k, r.n,
         (r.s2m - r.sy * r.sy / r.n) / (r.k - 1) AS msb,
         (r.syy - r.s2m) / (r.n - r.k) AS msw,
         (r.n - CAST(r.smm AS DOUBLE) / r.n) / (r.k - 1) AS m0,
         CAST(r.smm AS DOUBLE) / r.n AS mw
  FROM reg r
  WHERE r.k > 1 AND r.n > r.k
)
SELECT rg.r_name AS region, f.k AS n_clusters, f.n,
       round(f.m0, 6) AS m0,
       round((f.msb - f.msw) / (f.msb + (f.m0 - 1.0) * f.msw), 6) AS icc,
       round(1.0 + (f.mw - 1.0)
             * ((f.msb - f.msw) / (f.msb + (f.m0 - 1.0) * f.msw)), 6)
         AS deff,
       round(f.n / (1.0 + (f.mw - 1.0)
             * ((f.msb - f.msw) / (f.msb + (f.m0 - 1.0) * f.msw))), 6)
         AS n_effective
FROM f JOIN region rg ON f.rk = rg.r_regionkey
WHERE f.msb + (f.m0 - 1.0) * f.msw <> 0
ORDER BY region
"""


@query("q_design_effect", oracle=DEFF_SQL)
def q_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cust, nation, region = cat.customer, cat.nation, cat.region
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    cl = (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy(
            F.col("n_regionkey").alias("rk"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum(bal).cast("decimal(19,2)").alias("s"),
            F.sum(bal * bal).cast("decimal(30,4)").alias("ss"),
        )
    )
    reg = cl.groupBy("rk").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum("s").cast("double").alias("sy"),
        F.sum("ss").cast("double").alias("syy"),
        F.sum(
            F.round(
                F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("m"),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("s2m"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("smm"),
    )
    k, n = F.col("k"), F.col("n")
    f = reg.filter((k > 1) & (n > k)).select(
        "rk",
        "k",
        "n",
        ((F.col("s2m") - F.col("sy") * F.col("sy") / n) / (k - 1)).alias(
            "msb"
        ),
        ((F.col("syy") - F.col("s2m")) / (n - k)).alias("msw"),
        ((n - F.col("smm").cast("double") / n) / (k - 1)).alias("m0"),
        (F.col("smm").cast("double") / n).alias("mw"),
    )
    icc = (F.col("msb") - F.col("msw")) / (
        F.col("msb") + (F.col("m0") - 1.0) * F.col("msw")
    )
    deff = 1.0 + (F.col("mw") - 1.0) * icc
    return (
        f.filter(F.col("msb") + (F.col("m0") - 1.0) * F.col("msw") != 0)
        .join(F.broadcast(region), F.col("rk") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            F.col("k").alias("n_clusters"),
            "n",
            F.round("m0", 6).alias("m0"),
            F.round(icc, 6).alias("icc"),
            F.round(deff, 6).alias("deff"),
            F.round(F.col("n") / deff, 6).alias("n_effective"),
        )
        .orderBy("region")
    )


# -- q_holt_brown ------------------------------------------------------
#
# Brown's double exponential smoothing (linear-trend forecast) of
# daily revenue per event type, built from the SAME exact finite-
# horizon α = 1/2 smoother as q_ewma: S¹ smooths the revenue, S² the
# 6-rounded S¹ (round-before-reuse keeps the second-level double
# chain identical on both engines), then level = 2S¹ − S², trend =
# (α/(1−α))(S¹−S²) = S¹ − S², and the 1-step-ahead forecast
# level + trend. Powers of 1/2 are exact decimals so each smoother
# numerator/denominator folds exactly. Scale: two chained window
# passes share the (event_type, day) sort over the tiny daily grid —
# never the raw event stream.

_HB_W = ["1.0000000", "0.5000000", "0.2500000", "0.1250000",
         "0.0625000", "0.0312500", "0.0156250", "0.0078125"]

_HB_NUM1 = " + ".join(
    f"COALESCE(r{j}, CAST(0 AS DECIMAL(18,2))) * CAST({w} AS DECIMAL(9,7))"
    for j, w in enumerate(_HB_W)
)
_HB_DEN1 = " + ".join(
    f"(CASE WHEN r{j} IS NULL THEN CAST(0 AS DECIMAL(9,7)) "
    f"ELSE CAST({w} AS DECIMAL(9,7)) END)"
    for j, w in enumerate(_HB_W)
)
_HB_NUM2 = " + ".join(
    f"COALESCE(t{j}, CAST(0 AS DECIMAL(18,6))) * CAST({w} AS DECIMAL(9,7))"
    for j, w in enumerate(_HB_W)
)
_HB_DEN2 = " + ".join(
    f"(CASE WHEN t{j} IS NULL THEN CAST(0 AS DECIMAL(9,7)) "
    f"ELSE CAST({w} AS DECIMAL(9,7)) END)"
    for j, w in enumerate(_HB_W)
)

HOLT_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM events GROUP BY 1, 2
), lag1 AS (
  SELECT event_type, day, rev AS r0,
         {", ".join(f"LAG(rev, {j}) OVER (PARTITION BY event_type ORDER BY day) AS r{j}" for j in range(1, 8))}
  FROM daily
), s1 AS (
  SELECT event_type, day, r0,
         CAST(round(CAST({_HB_NUM1} AS DOUBLE) /
                    CAST({_HB_DEN1} AS DOUBLE), 6) AS DECIMAL(18,6)) AS s1
  FROM lag1
), lag2 AS (
  SELECT event_type, day, r0, s1 AS t0,
         {", ".join(f"LAG(s1, {j}) OVER (PARTITION BY event_type ORDER BY day) AS t{j}" for j in range(1, 8))}
  FROM s1
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(r0 AS DOUBLE) AS revenue,
       CAST(t0 AS DOUBLE) AS s1,
       round(CAST({_HB_NUM2} AS DOUBLE) / CAST({_HB_DEN2} AS DOUBLE), 6) AS s2,
       round(2.0 * CAST(t0 AS DOUBLE)
             - CAST({_HB_NUM2} AS DOUBLE) / CAST({_HB_DEN2} AS DOUBLE), 6)
         AS level,
       round(CAST(t0 AS DOUBLE)
             - CAST({_HB_NUM2} AS DOUBLE) / CAST({_HB_DEN2} AS DOUBLE), 6)
         AS trend,
       round(3.0 * CAST(t0 AS DOUBLE)
             - 2.0 * (CAST({_HB_NUM2} AS DOUBLE) / CAST({_HB_DEN2} AS DOUBLE)), 6)
         AS forecast_1
FROM lag2
"""


@query("q_holt_brown", oracle=HOLT_SQL)
def q_holt_brown(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(19,2)")
        .alias("rev")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lag1 = daily.select(
        "event_type",
        "day",
        F.col("rev").alias("r0"),
        *[F.lag("rev", j).over(w).alias(f"r{j}") for j in range(1, 8)],
    )
    s1 = lag1.select(
        "event_type",
        "day",
        "r0",
        F.round(
            F.expr(_HB_NUM1).cast("double")
            / F.expr(_HB_DEN1).cast("double"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("s1"),
    )
    lag2 = s1.select(
        "event_type",
        "day",
        "r0",
        F.col("s1").alias("t0"),
        *[F.lag("s1", j).over(w).alias(f"t{j}") for j in range(1, 8)],
    )
    s2 = F.expr(_HB_NUM2).cast("double") / F.expr(_HB_DEN2).cast("double")
    s0d = F.col("t0").cast("double")
    return lag2.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("r0").cast("double").alias("revenue"),
        F.col("t0").cast("double").alias("s1"),
        F.round(s2, 6).alias("s2"),
        F.round(2.0 * s0d - s2, 6).alias("level"),
        F.round(s0d - s2, 6).alias("trend"),
        F.round(3.0 * s0d - 2.0 * s2, 6).alias("forecast_1"),
    )


# -- q_getis_ord -------------------------------------------------------
#
# Getis-Ord Gi local hotspot statistic of nation mean account balance
# over the same-region adjacency (w_ij = 1 iff regions match, i ≠ j —
# the self-excluded Gi form, so scores VARY within a region):
# Gi = (Σ_j w_ij x_j − x̄_(i)·W_i)
#      / (S_(i)·sqrt(((n−1)·W_i − W_i²)/(n−2))),
# where the mean and spread EXCLUDE i (leave-one-out) per Getis &
# Ord 1992. Like q_moran_i (its global twin) the neighbor sum needs
# NO pair join: Σ_j w_ij x_j = region sum − x_i; W_i = s_r − 1;
# leave-one-out moments come from the global Σx / Σx² decimal folds.
# Scale: one customer scan to the 25-nation grid, then grid algebra.
# Hot/cold flags at the one-sided 5% normal cut (|z| > 1.645).

GETIS_SQL = """
WITH nm AS (
  SELECT n_nationkey, n_name, n_regionkey,
         round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS v
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2, 3
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(v * v, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx
  FROM nm
), reg AS (
  SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS s_r,
         CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS szr
  FROM nm GROUP BY 1
), scored AS (
  SELECT m.n_nationkey, m.n_name, r2.r_name, m.v,
         r.s_r - 1 AS wi,
         (g.sx - m.v) / (g.n - 1) AS mu_i,
         sqrt(GREATEST((g.sxx - round(m.v * m.v, 6)) / (g.n - 1)
                       - ((g.sx - m.v) / (g.n - 1))
                         * ((g.sx - m.v) / (g.n - 1)), 0.0)) AS s_i,
         r.szr - m.v AS nbr_sum,
         g.n
  FROM nm m
  JOIN reg r ON m.n_regionkey = r.n_regionkey
  JOIN region r2 ON m.n_regionkey = r2.r_regionkey
  CROSS JOIN g
  WHERE r.s_r > 1 AND g.n > 2
), z AS (
  SELECT n_nationkey, n_name, r_name, v,
         round((nbr_sum - mu_i * wi)
               / (s_i * sqrt(((n - 1.0) * wi - CAST(wi AS DOUBLE) * wi)
                             / (n - 2.0))), 6) AS gi_z
  FROM scored WHERE s_i > 0 AND (n - 1) > wi
)
SELECT n_name AS nation, r_name AS region, round(v, 2) AS mean_bal,
       gi_z,
       CAST(CASE WHEN gi_z > 1.645 THEN 1
                 WHEN gi_z < -1.645 THEN -1 ELSE 0 END AS INT) AS hotspot
FROM z
ORDER BY nation
"""


@query("q_getis_ord", oracle=GETIS_SQL)
def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    cust, nat, regn = c.customer, c.nation, c.region
    nm = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_nationkey", "n_name", "n_regionkey")
        .agg(
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("v")
        )
    )
    nm = nm.cache()  # 25-row grid: feeds globals, region sums, and rows
    g = nm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("v") * F.col("v"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxx"),
    )
    reg = nm.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_r"),
        F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("szr"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    v, s_r, szr = F.col("v"), F.col("s_r"), F.col("szr")
    mu_i = (sx - v) / (n - 1)
    scored = (
        nm.join(F.broadcast(reg), "n_regionkey")
        .join(
            F.broadcast(regn),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(g))
        .filter((s_r > 1) & (n > 2))
        .select(
            "n_nationkey",
            "n_name",
            "r_name",
            "v",
            (s_r - 1).alias("wi"),
            mu_i.alias("mu_i"),
            F.sqrt(
                F.greatest(
                    (sxx - F.round(v * v, 6)) / (n - 1) - mu_i * mu_i,
                    F.lit(0.0),
                )
            ).alias("s_i"),
            (szr - v).alias("nbr_sum"),
            "n",
        )
    )
    wi, s_i = F.col("wi"), F.col("s_i")
    gi_z = F.round(
        (F.col("nbr_sum") - F.col("mu_i") * wi)
        / (
            s_i
            * F.sqrt(
                ((n - 1.0) * wi - wi.cast("double") * wi) / (n - 2.0)
            )
        ),
        6,
    )
    z = (
        scored.filter((s_i > 0) & ((n - 1) > wi))
        .select("n_name", "r_name", "v", gi_z.alias("gi_z"))
    )
    return z.select(
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        F.round("v", 2).alias("mean_bal"),
        "gi_z",
        F.when(F.col("gi_z") > 1.645, 1)
        .when(F.col("gi_z") < -1.645, -1)
        .otherwise(0)
        .cast("int")
        .alias("hotspot"),
    ).orderBy("nation")


# -- q_bartlett_test ---------------------------------------------------
#
# Bartlett's test for equal variances of account balances across the
# five market segments — the parametric (normal-theory, most
# powerful) twin of q_levene_test's robust check, completing the
# variance-test pair beside q_anova_oneway's mean test. Per-segment
# variances use the two-pass cancellation-safe form (exact decimal
# mean, 6-rounded (x−m)² decimal folds); the statistic
# χ² = [(N−k)·ln s_p² − Σ(nᵢ−1)·ln sᵢ²] / C with Bartlett's
# correction C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)) is a ≤5-row
# grid fold (ln terms 9-rounded decimals), and the p-value maps
# through the Wilson-Hilferty chi2→normal cube-root plus
# _normal.phi(-z). Scale: two customer scans → 5-row grid → 1 row.

BARTLETT_SQL = f"""
WITH m1 AS (
  SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS mu
  FROM customer GROUP BY 1
), v AS (
  SELECT c.c_mktsegment AS segment, m.n,
         CAST(SUM(CAST(round((c.c_acctbal - m.mu) * (c.c_acctbal - m.mu),
                             6) AS DECIMAL(28,6))) AS DOUBLE)
           / (m.n - 1) AS s2
  FROM customer c JOIN m1 m ON c.c_mktsegment = m.segment
  WHERE m.n > 1
  GROUP BY 1, 2
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS bign,
         CAST(SUM(CAST(round((n - 1) * s2, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS pooled_num,
         CAST(SUM(CAST(round((n - 1) * ln(s2), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS sum_nl,
         CAST(SUM(CAST(round(1.0 / (n - 1), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS sum_inv
  FROM v WHERE s2 > 0
), stat AS (
  SELECT k, bign,
         ((bign - k) * ln(pooled_num / (bign - k)) - sum_nl)
         / (1.0 + (sum_inv - 1.0 / (bign - k)) / (3.0 * (k - 1))) AS x2,
         k - 1 AS df
  FROM g WHERE k > 1 AND bign > k
), wh AS (
  SELECT k, bign, x2, CAST(df AS BIGINT) AS df,
         round((pow(x2 / df, 1.0 / 3.0)
                - (1.0 - 2.0 / (9.0 * df)))
               / sqrt(2.0 / (9.0 * df)), 6) AS z
  FROM stat WHERE x2 > 0
)
SELECT k AS n_groups, bign AS n_total, round(x2, 6) AS bartlett_x2, df,
       z AS z_wh,
       round({phi('-z')}, 6) AS p_unequal_var
FROM wh
"""


@query("q_bartlett_test", oracle=BARTLETT_SQL)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = Catalog(spark, sf_dir).customer
    m1 = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    v = (
        cust.join(
            F.broadcast(m1.filter(F.col("n") > 1)),
            cust["c_mktsegment"] == F.col("segment"),
        )
        .groupBy("segment", "n")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("c_acctbal") - F.col("mu"))
                        * (F.col("c_acctbal") - F.col("mu")),
                        6,
                    ).cast("decimal(28,6)")
                ).cast("double")
                / (F.col("n") - 1)
            ).alias("s2")
        )
    )
    n, s2 = F.col("n"), F.col("s2")
    g = v.filter(s2 > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(n).cast("bigint").alias("bign"),
        F.sum(F.round((n - 1) * s2, 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("pooled_num"),
        F.sum(F.round((n - 1) * F.log(s2), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sum_nl"),
        F.sum(F.round(1.0 / (n - 1), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sum_inv"),
    )
    k, bign = F.col("k"), F.col("bign")
    x2 = (
        (bign - k) * F.log(F.col("pooled_num") / (bign - k))
        - F.col("sum_nl")
    ) / (
        1.0
        + (F.col("sum_inv") - 1.0 / (bign - k)) / (3.0 * (k - 1))
    )
    stat = (
        g.filter((k > 1) & (bign > k))
        .select("k", "bign", x2.alias("x2"), (k - 1).alias("df"))
        .filter(F.col("x2") > 0)
    )
    df = F.col("df")
    z = F.round(
        (
            F.pow(F.col("x2") / df, F.lit(1.0 / 3.0))
            - (1.0 - 2.0 / (9.0 * df))
        )
        / F.sqrt(2.0 / (9.0 * df)),
        6,
    )
    wh = stat.select(
        "k", "bign", "x2", df.cast("bigint").alias("df"), z.alias("z")
    )
    zc = F.col("z")
    p = phi(-zc)
    return wh.select(
        F.col("k").alias("n_groups"),
        F.col("bign").alias("n_total"),
        F.round("x2", 6).alias("bartlett_x2"),
        "df",
        zc.alias("z_wh"),
        F.round(p, 6).alias("p_unequal_var"),
    )


# -- q_piecewise_hazard ------------------------------------------------
#
# Piecewise-exponential hazard model for time-to-repeat-purchase per
# market segment (the regression-flavored member of the survival
# block: q_survival_km's curve and q_logrank's test assume nothing,
# the life table bins — this one yields interpretable RATES): over
# the intervals [0,30)/[30,90)/[90,180)/[180,365)/[365,∞) days, each
# (interval, segment) cell's hazard is events ÷ person-days, with the
# person-time exposure max(0, min(t,b)−a) accumulated as EXACT
# integer day sums in ONE conditional-aggregate scan (no interval
# explode), and the rate ratio vs the interval's POOLED hazard gets a
# log-normal CI exp(±1.96/√d). Censoring at the dataset horizon as
# in q_survival_km. Scale: one o_custkey window pass → |customers|
# observations → 5×|segments| grid algebra.

_HAZ_CUTS = [(0, 30), (30, 90), (90, 180), (180, 365), (365, 100000)]


def _hazard_sql() -> str:
    cells = []
    for i, (a, b) in enumerate(_HAZ_CUTS):
        cells.append(
            f"CAST(SUM(CASE WHEN ev = 1 AND t >= {a} AND t < {b} "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS d{i},\n"
            f"  CAST(SUM(GREATEST(LEAST(t, {b}) - {a}, 0)) AS BIGINT) "
            f"AS pt{i}"
        )
        # unpivot branch
    branches = []
    for i, (a, b) in enumerate(_HAZ_CUTS):
        label = f"'[{a},{b})'" if b < 100000 else f"'[{a},inf)'"
        branches.append(
            f"SELECT segment, {label} AS interval, {a} AS lo, "
            f"d{i} AS d, pt{i} AS pt FROM grid"
        )
    return f"""
WITH obs0 AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
         MIN(CAST(o_orderdate AS DATE))
           OVER (PARTITION BY o_custkey) AS d1
  FROM orders
), fs AS (
  SELECT o_custkey, d1, MIN(CASE WHEN od > d1 THEN od END) AS d2
  FROM obs0 GROUP BY 1, 2
), endd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS de FROM orders),
obs AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN f.d2 IS NOT NULL THEN date_diff('day', f.d1, f.d2)
              ELSE date_diff('day', f.d1, e.de) END AS t,
         CASE WHEN f.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM fs f JOIN customer c ON c.c_custkey = f.o_custkey
  CROSS JOIN endd e
), grid AS MATERIALIZED (
  SELECT segment,
  {','.join(cells)}
  FROM obs GROUP BY 1
), cells AS MATERIALIZED (
  {' UNION ALL '.join(branches)}
), pooled AS (
  SELECT interval, CAST(SUM(d) AS BIGINT) AS dp,
         CAST(SUM(pt) AS BIGINT) AS ptp
  FROM cells GROUP BY 1
)
SELECT c.segment, c.interval,
       c.d AS events, c.pt AS person_days,
       round(1000.0 * c.d / c.pt, 6) AS hazard_per_1kday,
       round((1000.0 * c.d / c.pt) / (1000.0 * p.dp / p.ptp), 6)
         AS rate_ratio,
       round((1000.0 * c.d / c.pt) / (1000.0 * p.dp / p.ptp)
             * exp(-1.96 / sqrt(c.d)), 6) AS rr_lo,
       round((1000.0 * c.d / c.pt) / (1000.0 * p.dp / p.ptp)
             * exp(1.96 / sqrt(c.d)), 6) AS rr_hi
FROM cells c JOIN pooled p ON c.interval = p.interval
WHERE c.d > 0 AND c.pt > 0 AND p.dp > 0 AND p.ptp > 0
ORDER BY c.segment, c.lo
"""


@query("q_piecewise_hazard", oracle=_hazard_sql())
def q_piecewise_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    wc = Window.partitionBy("o_custkey")
    obs0 = c.orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.min(F.col("o_orderdate").cast("date")).over(wc).alias("d1"),
    )
    fs = obs0.groupBy("o_custkey", "d1").agg(
        F.min(F.when(F.col("od") > F.col("d1"), F.col("od"))).alias("d2")
    )
    endd = c.orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("de")
    )
    obs = (
        fs.join(
            F.broadcast(
                c.customer.select("c_custkey", "c_mktsegment")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(endd))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(
                F.col("d2").isNotNull(),
                F.datediff(F.col("d2"), F.col("d1")),
            )
            .otherwise(F.datediff(F.col("de"), F.col("d1")))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    t, ev = F.col("t"), F.col("ev")
    aggs = []
    for i, (a, b) in enumerate(_HAZ_CUTS):
        aggs.append(
            F.sum(
                F.when((ev == 1) & (t >= a) & (t < b), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"d{i}")
        )
        aggs.append(
            F.sum(F.greatest(F.least(t, F.lit(b)) - a, F.lit(0)))
            .cast("bigint")
            .alias(f"pt{i}")
        )
    grid = obs.groupBy("segment").agg(*aggs)
    grid = grid.cache()  # ≤5 rows feed all 5 unpivot branches
    cells = None
    for i, (a, b) in enumerate(_HAZ_CUTS):
        label = f"[{a},{b})" if b < 100000 else f"[{a},inf)"
        sel = grid.select(
            "segment",
            F.lit(label).alias("interval"),
            F.lit(a).alias("lo"),
            F.col(f"d{i}").alias("d"),
            F.col(f"pt{i}").alias("pt"),
        )
        cells = sel if cells is None else cells.unionAll(sel)
    cells = cells.cache()  # 25-row grid feeds pooled AND the output join
    pooled = cells.groupBy("interval").agg(
        F.sum("d").cast("bigint").alias("dp"),
        F.sum("pt").cast("bigint").alias("ptp"),
    )
    d, pt, dp, ptp = F.col("d"), F.col("pt"), F.col("dp"), F.col("ptp")
    haz = 1000.0 * d / pt
    hazp = 1000.0 * dp / ptp
    rr = haz / hazp
    return (
        cells.join(F.broadcast(pooled), "interval")
        .filter((d > 0) & (pt > 0) & (dp > 0) & (ptp > 0))
        .select(
            "segment",
            "interval",
            d.alias("events"),
            pt.alias("person_days"),
            F.round(haz, 6).alias("hazard_per_1kday"),
            F.round(rr, 6).alias("rate_ratio"),
            F.round(rr * F.exp(-1.96 / F.sqrt(d)), 6).alias("rr_lo"),
            F.round(rr * F.exp(1.96 / F.sqrt(d)), 6).alias("rr_hi"),
            "lo",
        )
        .orderBy("segment", "lo")
        .drop("lo")
    )


# -- q_mediation_sobel -------------------------------------------------
#
# Baron-Kenny mediation analysis with the Sobel test: does discount
# (X) move revenue (Y = ln extendedprice) THROUGH quantity
# (M = ln quantity)? Path a from the 2-var OLS M~X, paths (c', b)
# from the 3×3 Cramer solve of Y~[1, X, M] (the q_heckman_mills
# machinery), indirect effect a·b, proportion mediated
# a·b/(c'+a·b), and Sobel z = a·b / √(b²·SE_a² + a²·SE_b²) with
# SE_a² = σ̂_M²/S_xx^c and SE_b² = σ̂_Y²·(n·S_xx−S_x²)/det — both
# residual variances recovered from the same raw-moment grid (RSS =
# S_yy − β'X'y). One fact scan folds all ten 9-rounded decimal
# moments; everything after is 1-row algebra, with the two-sided p
# from _normal.erfc_sqrt2. Scale: single partial-aggregated scan.

MEDIATION_SQL = f"""
WITH rows_ AS (
  SELECT CAST(l_discount AS DOUBLE) AS x,
         ln(CAST(l_quantity AS DOUBLE)) AS m,
         ln(CAST(l_extendedprice AS DOUBLE)) AS y
  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(round(m, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sm,
    CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(round(x * m, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxm,
    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(m * m, 9) AS DECIMAL(28,9))) AS DOUBLE) AS smm,
    CAST(SUM(CAST(round(m * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS smy,
    CAST(SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy
  FROM rows_
), paths AS (
  SELECT n, sx, sm, sy, sxx, sxm, sxy, smm, smy, syy,
         (n * sxm - sx * sm) / (n * sxx - sx * sx) AS a,
         n * (sxx * smm - sxm * sxm)
         - sx * (sx * smm - sxm * sm)
         + sm * (sx * sxm - sxx * sm) AS det
  FROM mom WHERE n > 3 AND n * sxx - sx * sx <> 0
), solved AS (
  SELECT *,
         (n * (sxy * smm - sxm * smy)
          - sy * (sx * smm - sxm * sm)
          + sm * (sx * smy - sxy * sm)) / det AS cprime,
         (n * (sxx * smy - sxy * sxm)
          - sx * (sx * smy - sxy * sm)
          + sy * (sx * sxm - sxx * sm)) / det AS b,
         (sy * (sxx * smm - sxm * sxm)
          - sx * (sxy * smm - sxm * smy)
          + sm * (sxy * sxm - sxx * smy)) / det AS b0
  FROM paths WHERE det <> 0
), err AS (
  SELECT *,
         ((smm - sm * sm / n) - a * a * (sxx - sx * sx / n)) / (n - 2)
           AS s2m,
         (syy - (b0 * sy + cprime * sxy + b * smy)) / (n - 3) AS s2y
  FROM solved
), sob AS (
  SELECT n, a, b, cprime, s2m, s2y,
         s2m / (sxx - sx * sx / n) AS se2a,
         s2y * (n * sxx - sx * sx) / det AS se2b
  FROM err WHERE s2m > 0 AND s2y > 0
), z AS (
  SELECT n, a, b, cprime,
         round(a * b / sqrt(b * b * se2a + a * a * se2b), 6) AS sobel_z
  FROM sob WHERE b * b * se2a + a * a * se2b > 0
)
SELECT n, round(a, 6) AS a_path, round(b, 6) AS b_path,
       round(cprime, 6) AS c_prime,
       round(a * b, 6) AS indirect,
       round(cprime + a * b, 6) AS total_effect,
       round(a * b / (cprime + a * b), 6) AS prop_mediated,
       sobel_z,
       round({erfc_sqrt2('abs(sobel_z)')}, 6) AS p_two_sided
FROM z WHERE cprime + a * b <> 0
"""


@query("q_mediation_sobel", oracle=MEDIATION_SQL)
def q_mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    rows_ = spread(li.filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )).select(
        F.col("l_discount").cast("double").alias("x"),
        F.log(F.col("l_quantity").cast("double")).alias("m"),
        F.log(F.col("l_extendedprice").cast("double")).alias("y"),
    )

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 9).cast("decimal(28,9)"))
            .cast("double")
            .alias(name)
        )

    x, m_, y = F.col("x"), F.col("m"), F.col("y")
    mom = rows_.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold(x, "sx"),
        fold(m_, "sm"),
        fold(y, "sy"),
        fold(x * x, "sxx"),
        fold(x * m_, "sxm"),
        fold(x * y, "sxy"),
        fold(m_ * m_, "smm"),
        fold(m_ * y, "smy"),
        fold(y * y, "syy"),
    )
    n = F.col("n")
    sx, sm, sy = F.col("sx"), F.col("sm"), F.col("sy")
    sxx, sxm, sxy = F.col("sxx"), F.col("sxm"), F.col("sxy")
    smm, smy, syy = F.col("smm"), F.col("smy"), F.col("syy")
    a = (n * sxm - sx * sm) / (n * sxx - sx * sx)
    det = (
        n * (sxx * smm - sxm * sxm)
        - sx * (sx * smm - sxm * sm)
        + sm * (sx * sxm - sxx * sm)
    )
    paths = (
        mom.filter((n > 3) & ((n * sxx - sx * sx) != 0))
        .withColumn("a", a)
        .withColumn("det", det)
        .filter(F.col("det") != 0)
    )
    av, detv = F.col("a"), F.col("det")
    cprime = (
        n * (sxy * smm - sxm * smy)
        - sy * (sx * smm - sxm * sm)
        + sm * (sx * smy - sxy * sm)
    ) / detv
    b = (
        n * (sxx * smy - sxy * sxm)
        - sx * (sx * smy - sxy * sm)
        + sy * (sx * sxm - sxx * sm)
    ) / detv
    b0 = (
        sy * (sxx * smm - sxm * sxm)
        - sx * (sxy * smm - sxm * smy)
        + sm * (sxy * sxm - sxx * smy)
    ) / detv
    solved = (
        paths.withColumn("cprime", cprime)
        .withColumn("b", b)
        .withColumn("b0", b0)
    )
    bv, b0v, cp = F.col("b"), F.col("b0"), F.col("cprime")
    err = solved.withColumn(
        "s2m",
        ((smm - sm * sm / n) - av * av * (sxx - sx * sx / n)) / (n - 2),
    ).withColumn(
        "s2y", (syy - (b0v * sy + cp * sxy + bv * smy)) / (n - 3)
    )
    sob = (
        err.filter((F.col("s2m") > 0) & (F.col("s2y") > 0))
        .withColumn("se2a", F.col("s2m") / (sxx - sx * sx / n))
        .withColumn("se2b", F.col("s2y") * (n * sxx - sx * sx) / detv)
    )
    se2a, se2b = F.col("se2a"), F.col("se2b")
    var_ab = bv * bv * se2a + av * av * se2b
    z = (
        sob.filter(var_ab > 0)
        .withColumn("sobel_z", F.round(av * bv / F.sqrt(var_ab), 6))
    )
    zc = F.col("sobel_z")
    return (
        z.filter((cp + av * bv) != 0)
        .select(
            "n",
            F.round(av, 6).alias("a_path"),
            F.round(bv, 6).alias("b_path"),
            F.round(cp, 6).alias("c_prime"),
            F.round(av * bv, 6).alias("indirect"),
            F.round(cp + av * bv, 6).alias("total_effect"),
            F.round(av * bv / (cp + av * bv), 6).alias("prop_mediated"),
            "sobel_z",
            F.round(erfc_sqrt2(F.abs(zc)), 6).alias("p_two_sided"),
        )
    )


# -- q_dunn_posthoc ----------------------------------------------------
#
# Dunn's post-hoc test with Bonferroni correction — WHICH event-type
# pairs differ once q_kruskal_wallis rejects (the nonparametric
# sibling of q_tukey_hsd, closing the post-hoc gap). Reuses the
# Kruskal midrank algebra: one distinct-value grid gives exact BIGINT
# 2·R_i per group, mean ranks R̄_i = r2x/(2n_i), and
# z_ij = (R̄_i−R̄_j)/√((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/n_i+1/n_j))
# with the tie correction; two-sided p from _normal.erfc_sqrt2,
# Bonferroni ×k(k−1)/2 capped at 1. The pair join is the ≤5-row
# group grid against itself. Scale: one fact scan → value grid →
# 5-row grid → 10 pair rows.

DUNN_SQL = f"""
WITH vals AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), g AS (
  SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY 1
), rg AS (
  SELECT value, cnt,
         CAST(SUM(cnt) OVER (ORDER BY value) AS BIGINT) AS cum
  FROM g
), gstat AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
  FROM g
), tg AS (
  SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS ct
  FROM vals GROUP BY 1, 2
), per AS MATERIALIZED (
  SELECT t.event_type,
         CAST(SUM(t.ct) AS BIGINT) AS n1,
         CAST(SUM(t.ct * (2 * r.cum - r.cnt + 1)) AS BIGINT) AS r2x
  FROM tg t JOIN rg r ON r.value = t.value
  GROUP BY 1
), kc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM per),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n1 AS na, b.n1 AS nb,
         a.r2x / (2.0 * a.n1) - b.r2x / (2.0 * b.n1) AS diff,
         g.n, g.ties, k.k
  FROM per a JOIN per b ON a.event_type < b.event_type
  CROSS JOIN gstat g CROSS JOIN kc k
), z AS (
  SELECT type_a, type_b, na, nb, k,
         round(diff / sqrt((n * (n + 1.0) / 12.0
                            - ties / (12.0 * (n - 1.0)))
                           * (1.0 / na + 1.0 / nb)), 6) AS z
  FROM pairs
  WHERE n > 1
    AND n * (n + 1.0) / 12.0 - ties / (12.0 * (n - 1.0)) > 0
)
SELECT type_a, type_b, na AS n_a, nb AS n_b, z,
       round(LEAST(1.0, k * (k - 1) / 2.0 * {erfc_sqrt2('abs(z)')}), 6)
         AS p_bonferroni,
       CAST(CASE WHEN abs(z) > 2.807 THEN 1 ELSE 0 END AS INT)
         AS significant_05
FROM z
ORDER BY type_a, type_b
"""


@query("q_dunn_posthoc", oracle=DUNN_SQL)
def q_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    vals = e.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    vals = vals.cache()  # feeds the value grid AND the per-type grid
    g = vals.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    g = g.cache()  # value grid feeds ranks AND global stats
    # distinct values scale with the data: two-phase prefix sum over
    # floor(value/8) buckets (event value domain 0..~500 -> ~62,
    # SF-independent) — no SinglePartition pass (plans/prefix.py).
    rg = two_phase_cumsum(
        g, ["value"], F.col("cnt"),
        F.floor(F.col("value") / 8).cast("bigint"), out="cum",
    )
    gstat = g.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("bigint")
        .alias("ties"),
    )
    tg = vals.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    per = (
        tg.join(rg, "value")
        .groupBy("event_type")
        .agg(
            F.sum("ct").cast("bigint").alias("n1"),
            F.sum(
                F.col("ct") * (2 * F.col("cum") - F.col("cnt") + 1)
            )
            .cast("bigint")
            .alias("r2x"),
        )
    )
    per = per.cache()  # ≤5 rows feed both pair sides and k
    kc = per.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    a = per.select(
        F.col("event_type").alias("type_a"),
        F.col("n1").alias("na"),
        F.col("r2x").alias("r2a"),
    )
    b = per.select(
        F.col("event_type").alias("type_b"),
        F.col("n1").alias("nb"),
        F.col("r2x").alias("r2b"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .join(F.broadcast(gstat))
        .join(F.broadcast(kc))
    )
    n, ties, k = F.col("n"), F.col("ties"), F.col("k")
    na, nb = F.col("na"), F.col("nb")
    diff = F.col("r2a") / (2.0 * na) - F.col("r2b") / (2.0 * nb)
    var = n * (n + 1.0) / 12.0 - ties / (12.0 * (n - 1.0))
    z = F.round(diff / F.sqrt(var * (1.0 / na + 1.0 / nb)), 6)
    zdf = (
        pairs.filter((n > 1) & (var > 0))
        .select("type_a", "type_b", na, nb, k, z.alias("z"))
    )
    zc = F.col("z")
    p = F.round(
        F.least(F.lit(1.0), k * (k - 1) / 2.0 * erfc_sqrt2(F.abs(zc))), 6
    )
    return zdf.select(
        "type_a",
        "type_b",
        na.alias("n_a"),
        nb.alias("n_b"),
        "z",
        p.alias("p_bonferroni"),
        F.when(F.abs(zc) > 2.807, 1).otherwise(0).cast("int").alias(
            "significant_05"
        ),
    ).orderBy("type_a", "type_b")


# -- q_hazard_ratio ----------------------------------------------------
#
# Pike hazard-ratio estimator per market segment vs the rest,
# HR = (O_s/E_s) / ((O−O_s)/(E−E_s)), on the q_survival_km
# time-to-repeat-purchase observations — the EFFECT SIZE the logrank
# test omits (q_logrank answers "different?", this answers "how many
# times the repeat-purchase hazard?"), with the standard log-normal
# CI exp(±1.96·√(1/E_s + 1/(E−E_s))). Determinism: expected counts
# E_s = Σ_t n_s(t)·d(t)/n(t) fold as EXACT BIGINT MICROS
# ((n_s·d·10⁶) div n per event time — integer div, no per-row double
# rounding), so O and E are exact and the HR is one
# integer-ratio double division. Scale: one o_custkey window pass →
# |customers| observations → |times × segments| grid → 5 rows.

HAZARD_RATIO_SQL = """
WITH obs0 AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
         MIN(CAST(o_orderdate AS DATE))
           OVER (PARTITION BY o_custkey) AS d1
  FROM orders
), fs AS (
  SELECT o_custkey, d1, MIN(CASE WHEN od > d1 THEN od END) AS d2
  FROM obs0 GROUP BY 1, 2
), endd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS de FROM orders),
obs AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN f.d2 IS NOT NULL THEN date_diff('day', f.d1, f.d2)
              ELSE date_diff('day', f.d1, e.de) END AS t,
         CASE WHEN f.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM fs f JOIN customer c ON c.c_custkey = f.o_custkey
  CROSS JOIN endd e
), gridc AS MATERIALIZED (
  SELECT segment, t, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(ev) AS BIGINT) AS d
  FROM obs GROUP BY 1, 2
), alltimes AS (SELECT DISTINCT t FROM gridc),
segtot AS (
  SELECT segment, CAST(SUM(c) AS BIGINT) AS ns_tot FROM gridc GROUP BY 1
), dense AS (
  SELECT st.segment, at.t,
         COALESCE(g.c, 0) AS c, COALESCE(g.d, 0) AS d,
         st.ns_tot
  FROM segtot st CROSS JOIN alltimes at
  LEFT JOIN gridc g ON g.segment = st.segment AND g.t = at.t
), risk AS (
  SELECT segment, t, d,
         ns_tot - COALESCE(CAST(SUM(c) OVER (
             PARTITION BY segment ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS n_s
  FROM dense
), gl AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS d_tot,
         CAST(SUM(n_s) AS BIGINT) AS n_tot
  FROM risk GROUP BY 1 HAVING SUM(d) > 0
), seg AS (
  SELECT r.segment,
         CAST(SUM(r.d) AS BIGINT) AS o_s,
         CAST(SUM((r.n_s * g.d_tot * 1000000) // g.n_tot) AS BIGINT)
           AS e_micro
  FROM risk r JOIN gl g ON r.t = g.t
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(o_s) AS BIGINT) AS o_t,
         CAST(SUM(e_micro) AS BIGINT) AS e_t
  FROM seg
)
SELECT s.segment, s.o_s AS observed,
       round(s.e_micro / 1000000.0, 6) AS expected,
       round((s.o_s * CAST(t.e_t - s.e_micro AS DOUBLE))
             / (CAST(s.e_micro AS DOUBLE) * (t.o_t - s.o_s)), 6)
         AS hazard_ratio,
       round((s.o_s * CAST(t.e_t - s.e_micro AS DOUBLE))
             / (CAST(s.e_micro AS DOUBLE) * (t.o_t - s.o_s))
             * exp(-1.96 * sqrt(1000000.0 / s.e_micro
                                + 1000000.0 / (t.e_t - s.e_micro))), 6)
         AS hr_lo,
       round((s.o_s * CAST(t.e_t - s.e_micro AS DOUBLE))
             / (CAST(s.e_micro AS DOUBLE) * (t.o_t - s.o_s))
             * exp(1.96 * sqrt(1000000.0 / s.e_micro
                               + 1000000.0 / (t.e_t - s.e_micro))), 6)
         AS hr_hi,
       CAST(CASE WHEN (s.o_s * CAST(t.e_t - s.e_micro AS DOUBLE))
                      / (CAST(s.e_micro AS DOUBLE) * (t.o_t - s.o_s))
                      * exp(-1.96 * sqrt(1000000.0 / s.e_micro
                            + 1000000.0 / (t.e_t - s.e_micro))) > 1.0
                 THEN 1
                 WHEN (s.o_s * CAST(t.e_t - s.e_micro AS DOUBLE))
                      / (CAST(s.e_micro AS DOUBLE) * (t.o_t - s.o_s))
                      * exp(1.96 * sqrt(1000000.0 / s.e_micro
                            + 1000000.0 / (t.e_t - s.e_micro))) < 1.0
                 THEN -1 ELSE 0 END AS INT) AS signif_direction
FROM seg s CROSS JOIN tot t
WHERE s.e_micro > 0 AND t.e_t > s.e_micro AND t.o_t > s.o_s
ORDER BY s.segment
"""


@query("q_hazard_ratio", oracle=HAZARD_RATIO_SQL)
def q_hazard_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    wc = Window.partitionBy("o_custkey")
    obs0 = c.orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.min(F.col("o_orderdate").cast("date")).over(wc).alias("d1"),
    )
    fs = obs0.groupBy("o_custkey", "d1").agg(
        F.min(F.when(F.col("od") > F.col("d1"), F.col("od"))).alias("d2")
    )
    endd = c.orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("de")
    )
    obs = (
        fs.join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(endd))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(
                F.col("d2").isNotNull(),
                F.datediff(F.col("d2"), F.col("d1")),
            )
            .otherwise(F.datediff(F.col("de"), F.col("d1")))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    gridc = obs.groupBy("segment", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    gridc = gridc.cache()  # bounded |segment × t| grid, three consumers
    alltimes = gridc.select("t").distinct()
    segtot = gridc.groupBy("segment").agg(
        F.sum("c").cast("bigint").alias("ns_tot")
    )
    dense = (
        segtot.crossJoin(F.broadcast(alltimes))
        # broadcast the bounded |segment x t| grid: the cached side
        # has no size estimate and planned as SMJ (r11)
        .join(F.broadcast(gridc), ["segment", "t"], "left")
        .select(
            "segment",
            "t",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            "ns_tot",
        )
    )
    wpre = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = dense.select(
        "segment",
        "t",
        "d",
        (
            F.col("ns_tot")
            - F.coalesce(F.sum("c").over(wpre).cast("bigint"), F.lit(0))
        ).alias("n_s"),
    )
    risk = risk.cache()  # feeds per-time totals AND the segment fold
    glob = (
        risk.groupBy("t")
        .agg(
            F.sum("d").cast("bigint").alias("d_tot"),
            F.sum("n_s").cast("bigint").alias("n_tot"),
        )
        .filter(F.col("d_tot") > 0)
    )
    seg = (
        risk.join(F.broadcast(glob), "t")
        .groupBy("segment")
        .agg(
            F.sum("d").cast("bigint").alias("o_s"),
            F.sum(F.expr("(n_s * d_tot * 1000000) div n_tot"))
            .cast("bigint")
            .alias("e_micro"),
        )
    )
    seg = seg.cache()  # 5 rows feed the totals AND the output
    tot = seg.agg(
        F.sum("o_s").cast("bigint").alias("o_t"),
        F.sum("e_micro").cast("bigint").alias("e_t"),
    )
    o_s, e_m = F.col("o_s"), F.col("e_micro")
    o_t, e_t = F.col("o_t"), F.col("e_t")
    hr = (o_s * (e_t - e_m).cast("double")) / (
        e_m.cast("double") * (o_t - o_s)
    )
    half = F.sqrt(1000000.0 / e_m + 1000000.0 / (e_t - e_m))
    lo = hr * F.exp(-1.96 * half)
    hi = hr * F.exp(1.96 * half)
    return (
        seg.join(F.broadcast(tot))
        .filter((e_m > 0) & (e_t > e_m) & (o_t > o_s))
        .select(
            "segment",
            o_s.alias("observed"),
            F.round(e_m / 1000000.0, 6).alias("expected"),
            F.round(hr, 6).alias("hazard_ratio"),
            F.round(lo, 6).alias("hr_lo"),
            F.round(hi, 6).alias("hr_hi"),
            F.when(lo > 1.0, 1)
            .when(hi < 1.0, -1)
            .otherwise(0)
            .cast("int")
            .alias("signif_direction"),
        )
        .orderBy("segment")
    )


# -- q_survival_rmst ---------------------------------------------------
#
# Restricted mean survival time to τ = 180 days per market segment —
# the modern model-free survival effect measure ("average
# repeat-purchase-free days in the first 180"), the area under each
# segment's Kaplan-Meier curve: q_survival_km draws the global
# curve, q_logrank tests, q_hazard_ratio rates — RMST puts the
# difference in DAYS. Per-segment KM runs on the segment's own
# event-time grid (prefix-window at-risk, exp(Σ ln((n−d)/n)) with
# DECIMAL(18,9) ln folds — the KM determinism recipe), survival
# rounds to 6 BEFORE the integral reuses it, and the stepwise area
# Σ S(t_prev)·(min(t,τ)−t_prev) (+ tail to τ) folds as 6-rounded
# decimals. Scale: one o_custkey window pass → |segment × t| grid →
# 5 rows.

RMST_TAU = 180

RMST_SQL = f"""
WITH obs0 AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
         MIN(CAST(o_orderdate AS DATE))
           OVER (PARTITION BY o_custkey) AS d1
  FROM orders
), fs AS (
  SELECT o_custkey, d1, MIN(CASE WHEN od > d1 THEN od END) AS d2
  FROM obs0 GROUP BY 1, 2
), endd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS de FROM orders),
obs AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN f.d2 IS NOT NULL THEN date_diff('day', f.d1, f.d2)
              ELSE date_diff('day', f.d1, e.de) END AS t,
         CASE WHEN f.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM fs f JOIN customer c ON c.c_custkey = f.o_custkey
  CROSS JOIN endd e
), grid AS MATERIALIZED (
  SELECT segment, t, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(ev) AS BIGINT) AS d
  FROM obs GROUP BY 1, 2
), segtot AS (
  SELECT segment, CAST(SUM(c) AS BIGINT) AS ns FROM grid GROUP BY 1
), r AS (
  SELECT g.segment, g.t, g.d,
         st.ns - COALESCE(CAST(SUM(g.c) OVER (
             PARTITION BY g.segment ORDER BY g.t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS n
  FROM grid g JOIN segtot st ON g.segment = st.segment
), s AS MATERIALIZED (
  SELECT segment, t, d, n,
         round(CASE WHEN MAX(CASE WHEN d >= n THEN 1 ELSE 0 END)
                      OVER (PARTITION BY segment ORDER BY t) = 1
               THEN 0.0
               ELSE exp(CAST(SUM(CASE WHEN d > 0 AND d < n THEN
                      CAST(ln((n - d) / CAST(n AS DOUBLE))
                           AS DECIMAL(18,9)) END)
                    OVER (PARTITION BY segment ORDER BY t)
                    AS DOUBLE)) END, 6) AS surv
  FROM r WHERE d > 0
), stepped AS (
  SELECT segment, t, surv,
         COALESCE(LAG(t) OVER (PARTITION BY segment ORDER BY t), 0)
           AS t_prev,
         COALESCE(LAG(surv) OVER (PARTITION BY segment ORDER BY t), 1.0)
           AS s_prev,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY t DESC) AS rd
  FROM s
), area AS (
  SELECT segment,
         CAST(SUM(CASE WHEN t_prev < {RMST_TAU} THEN
             CAST(round(s_prev * (LEAST(t, {RMST_TAU}) - t_prev), 6)
                  AS DECIMAL(18,6)) END) AS DOUBLE) AS core,
         CAST(SUM(CASE WHEN rd = 1 AND t < {RMST_TAU} THEN
             CAST(round(surv * ({RMST_TAU} - t), 6) AS DECIMAL(18,6))
           END) AS DOUBLE) AS tail
  FROM stepped GROUP BY 1
), nseg AS (
  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN ev = 1 AND t <= {RMST_TAU} THEN 1 ELSE 0 END)
              AS BIGINT) AS events_le_tau
  FROM obs GROUP BY 1
)
SELECT a.segment, n.n_customers, n.events_le_tau,
       round(a.core + COALESCE(a.tail, 0.0), 6) AS rmst_{RMST_TAU}
FROM area a JOIN nseg n ON a.segment = n.segment
ORDER BY a.segment
"""


@query("q_survival_rmst", oracle=RMST_SQL)
def q_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    wc = Window.partitionBy("o_custkey")
    obs0 = c.orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.min(F.col("o_orderdate").cast("date")).over(wc).alias("d1"),
    )
    fs = obs0.groupBy("o_custkey", "d1").agg(
        F.min(F.when(F.col("od") > F.col("d1"), F.col("od"))).alias("d2")
    )
    endd = c.orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("de")
    )
    obs = (
        fs.join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(endd))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(
                F.col("d2").isNotNull(),
                F.datediff(F.col("d2"), F.col("d1")),
            )
            .otherwise(F.datediff(F.col("de"), F.col("d1")))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    obs = obs.cache()  # feeds the KM grid AND the per-segment counts
    grid = obs.groupBy("segment", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    segtot = grid.groupBy("segment").agg(
        F.sum("c").cast("bigint").alias("ns")
    )
    wpre = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = grid.join(F.broadcast(segtot), "segment").select(
        "segment",
        "t",
        "d",
        (
            F.col("ns")
            - F.coalesce(F.sum("c").over(wpre).cast("bigint"), F.lit(0))
        ).alias("n"),
    )
    wcum = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d, n = F.col("d"), F.col("n")
    dead = F.max(F.when(d >= n, 1).otherwise(0)).over(wcum)
    lsum = (
        F.sum(
            F.when(
                (d > 0) & (d < n),
                F.log((n - d) / n.cast("double")).cast("decimal(18,9)"),
            )
        )
        .over(wcum)
        .cast("double")
    )
    s = (
        r.filter(d > 0)
        .select(
            "segment",
            "t",
            F.round(
                F.when(dead == 1, 0.0).otherwise(F.exp(lsum)), 6
            ).alias("surv"),
        )
    )
    s = s.localCheckpoint()  # bounded KM step grid feeds lag + tail picks
    wlag = Window.partitionBy("segment").orderBy("t")
    stepped = s.select(
        "segment",
        "t",
        "surv",
        F.coalesce(F.lag("t").over(wlag), F.lit(0)).alias("t_prev"),
        F.coalesce(F.lag("surv").over(wlag), F.lit(1.0)).alias("s_prev"),
        F.row_number()
        .over(Window.partitionBy("segment").orderBy(F.desc("t")))
        .alias("rd"),
    )
    tau = RMST_TAU
    area = stepped.groupBy("segment").agg(
        F.sum(
            F.when(
                F.col("t_prev") < tau,
                F.round(
                    F.col("s_prev")
                    * (F.least(F.col("t"), F.lit(tau)) - F.col("t_prev")),
                    6,
                ).cast("decimal(18,6)"),
            )
        )
        .cast("double")
        .alias("core"),
        F.sum(
            F.when(
                (F.col("rd") == 1) & (F.col("t") < tau),
                F.round(F.col("surv") * (tau - F.col("t")), 6).cast(
                    "decimal(18,6)"
                ),
            )
        )
        .cast("double")
        .alias("tail"),
    )
    nseg = obs.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(
            F.when((F.col("ev") == 1) & (F.col("t") <= tau), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("events_le_tau"),
    )
    return (
        area.join(nseg, "segment")
        .select(
            "segment",
            "n_customers",
            "events_le_tau",
            F.round(
                F.col("core") + F.coalesce(F.col("tail"), F.lit(0.0)), 6
            ).alias(f"rmst_{tau}"),
        )
        .orderBy("segment")
    )
