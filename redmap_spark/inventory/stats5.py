"""Regression-diagnostics inventory batch 5: multicollinearity (VIF),
heteroskedasticity (Breusch-Pagan), and AR(2) Yule-Walker.

Reference parity: the reference's fold/reduce-by-key surface computes
arbitrary grouped moment folds; these entries re-express three classic
econometric diagnostics as one- or two-pass exact-decimal moment
aggregations (SURVEY §2 stats block). Determinism contract as
registry.py: exact decimal folds, identical double chains, 6-rounded
outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._normal import erfc_sqrt2, phi
from redmap_spark.inventory.registry import query, spread
from redmap_spark.plans.prefix import two_phase_cumsum

# -- q_vif -------------------------------------------------------------
#
# Variance-inflation factors of the three lineitem regressors
# (quantity, extendedprice, discount) from the pooled 3x3 correlation
# matrix — THE multicollinearity gate a modeler runs before trusting
# q_regression's coefficients (q_corr_matrix shows the pairwise r's;
# VIF_j = [R^-1]_jj says how much variance inflation the OTHER two
# inflict jointly). Closed form for 3 variables: with a = r(q,p),
# b = r(q,d), c = r(p,d) and det R = 1 + 2abc - a^2 - b^2 - c^2,
# VIF_q = (1 - c^2)/det, VIF_p = (1 - b^2)/det, VIF_d = (1 - a^2)/det.
# Scale: ONE fact scan partial-aggregates nine exact decimal moments
# to a single row; the matrix algebra is constant work. The pairwise
# r's are 6-rounded BEFORE the determinant chain so both engines run
# the identical double polynomial.

VIF_SQL = """
WITH m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sq,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sp,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sd,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sqq,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS spp,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sdd,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sqp,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sqd,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS spd
  FROM lineitem
), r AS (
  SELECT CAST(n AS BIGINT) AS n,
    round(CAST(n * sqp - sq * sp AS DOUBLE)
          / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                 * CAST(n * spp - sp * sp AS DOUBLE)), 6) AS a,
    round(CAST(n * sqd - sq * sd AS DOUBLE)
          / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                 * CAST(n * sdd - sd * sd AS DOUBLE)), 6) AS b,
    round(CAST(n * spd - sp * sd AS DOUBLE)
          / sqrt(CAST(n * spp - sp * sp AS DOUBLE)
                 * CAST(n * sdd - sd * sd AS DOUBLE)), 6) AS c
  FROM m
), d AS (
  SELECT n, a, b, c,
         1.0 + 2.0 * a * b * c - a * a - b * b - c * c AS det
  FROM r
)
SELECT variable, n,
       round(num / det, 6) AS vif,
       round(1.0 - det / num, 6) AS r2_others
FROM (
  SELECT 'l_quantity' AS variable, n, 1.0 - c * c AS num, det FROM d
  UNION ALL
  SELECT 'l_extendedprice', n, 1.0 - b * b, det FROM d
  UNION ALL
  SELECT 'l_discount', n, 1.0 - a * a, det FROM d
)
WHERE det <> 0
ORDER BY variable
"""


@query("q_vif", oracle=VIF_SQL)
def q_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(18,2)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("decimal(19,2)").alias("sq"),
        F.sum(p).cast("decimal(19,2)").alias("sp"),
        F.sum(d).cast("decimal(19,2)").alias("sd"),
        F.sum(q * q).cast("decimal(30,4)").alias("sqq"),
        F.sum(p * p).cast("decimal(30,4)").alias("spp"),
        F.sum(d * d).cast("decimal(30,4)").alias("sdd"),
        F.sum(q * p).cast("decimal(30,4)").alias("sqp"),
        F.sum(q * d).cast("decimal(30,4)").alias("sqd"),
        F.sum(p * d).cast("decimal(30,4)").alias("spd"),
    )

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str):
        n = F.col("n")
        cov = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        vx = (n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        vy = (n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
        return F.round(cov / F.sqrt(vx * vy), 6)

    r = m.select(
        F.col("n").cast("bigint").alias("n"),
        corr("sqp", "sq", "sp", "sqq", "spp").alias("a"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("b"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("c"),
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    det = 1.0 + 2.0 * a * b * c - a * a - b * b - c * c
    rows = r.select(
        "n",
        det.alias("det"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_quantity").alias("variable"),
                    (1.0 - c * c).alias("num"),
                ),
                F.struct(
                    F.lit("l_extendedprice").alias("variable"),
                    (1.0 - b * b).alias("num"),
                ),
                F.struct(
                    F.lit("l_discount").alias("variable"),
                    (1.0 - a * a).alias("num"),
                ),
            )
        ).alias("v"),
    )
    return (
        rows.filter(F.col("det") != 0)
        .select(
            F.col("v.variable").alias("variable"),
            "n",
            F.round(F.col("v.num") / F.col("det"), 6).alias("vif"),
            F.round(1.0 - F.col("det") / F.col("v.num"), 6).alias("r2_others"),
        )
        .orderBy("variable")
    )


# -- q_breusch_pagan ---------------------------------------------------
#
# Breusch-Pagan heteroskedasticity test of the pooled price~quantity
# OLS fit: does residual VARIANCE grow with quantity? (q_regression
# fits the line per brand; q_durbin_watson checks residual
# autocorrelation in time — this is the third classic residual
# diagnostic, the cross-sectional variance one, deciding whether OLS
# standard errors / q_bootstrap_ci are trustworthy.) Koenker's LM
# form: fit y = a + bx, regress e^2 on x, LM = n * R2_aux ~ chi2(1);
# reject at the literal 3.841 critical value. Two fact scans — one for
# the exact-decimal OLS moments, one folding the residual-square
# moments with 4/2-rounded decimal sums (order-independent) against
# the broadcast 1-row fit. Scale: both passes are map-side partial
# aggregations to a single row; nothing shuffles but 10 numbers.

BP_SQL = """
WITH m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sxx
  FROM lineitem
), fit AS (
  SELECT CAST(n AS BIGINT) AS n,
         CAST(sx AS DOUBLE) AS sx_d, CAST(sxx AS DOUBLE) AS sxx_d,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS beta,
         round((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE)) / n, 6) AS alpha
  FROM m WHERE n * sxx - sx * sx <> 0
), u AS (
  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS x,
         (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
          - (SELECT alpha FROM fit)
          - (SELECT beta FROM fit)
            * CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE)) AS e
  FROM lineitem
), aux AS (
  SELECT CAST(SUM(CAST(round(e * e, 4) AS DECIMAL(38,4))) AS DOUBLE) AS su,
         CAST(SUM(CAST(round(x * e * e, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxu,
         CAST(SUM(CAST(round(e * e * e * e, 2) AS DECIMAL(38,2))) AS DOUBLE) AS suu
  FROM u
)
SELECT f.n AS n_rows,
       round(f.beta, 6) AS slope,
       f.alpha AS intercept,
       round((f.n * a.sxu - f.sx_d * a.su) * (f.n * a.sxu - f.sx_d * a.su)
             / ((f.n * f.sxx_d - f.sx_d * f.sx_d)
                * (f.n * a.suu - a.su * a.su)), 6) AS r2_aux,
       round(f.n * (f.n * a.sxu - f.sx_d * a.su) * (f.n * a.sxu - f.sx_d * a.su)
             / ((f.n * f.sxx_d - f.sx_d * f.sx_d)
                * (f.n * a.suu - a.su * a.su)), 4) AS lm_stat,
       CASE WHEN f.n * (f.n * a.sxu - f.sx_d * a.su)
                 * (f.n * a.sxu - f.sx_d * a.su)
                 / ((f.n * f.sxx_d - f.sx_d * f.sx_d)
                    * (f.n * a.suu - a.su * a.su)) > 3.841
            THEN 1 ELSE 0 END AS heteroskedastic_5pct
FROM fit f CROSS JOIN aux a
WHERE (f.n * f.sxx_d - f.sx_d * f.sx_d) * (f.n * a.suu - a.su * a.su) <> 0
"""


@query("q_breusch_pagan", oracle=BP_SQL)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the two fold columns and heal single-file scan
    # parallelism before the per-row decimal folds (both passes)
    li = spread(
        Catalog(spark, sf_dir).lineitem.select(
            "l_quantity", "l_extendedprice"
        )
    )
    xq = F.col("l_quantity").cast("decimal(18,2)")
    yp = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xq).cast("decimal(19,2)").alias("sx"),
        F.sum(yp).cast("decimal(19,2)").alias("sy"),
        F.sum(xq * yp).cast("decimal(30,4)").alias("sxy"),
        F.sum(xq * xq).cast("decimal(30,4)").alias("sxx"),
    )
    n = F.col("n")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    fit = m.filter(vx != 0).select(
        n.cast("bigint").alias("n"),
        F.col("sx").cast("double").alias("sx_d"),
        F.col("sxx").cast("double").alias("sxx_d"),
        F.round(cov / vx, 9).alias("beta"),
        F.round(
            (F.col("sy").cast("double") - cov / vx * F.col("sx").cast("double"))
            / n,
            6,
        ).alias("alpha"),
    )
    x_d = xq.cast("double")
    y_d = yp.cast("double")
    e = y_d - F.col("alpha") - F.col("beta") * x_d
    aux = (
        li.crossJoin(F.broadcast(fit))
        .select(F.col("n"), F.col("sx_d"), F.col("sxx_d"),
                F.col("beta"), F.col("alpha"),
                x_d.alias("x"), (e * e).alias("u"))
        .groupBy("n", "sx_d", "sxx_d", "beta", "alpha")
        .agg(
            F.sum(F.round(F.col("u"), 4).cast("decimal(38,4)"))
            .cast("double").alias("su"),
            F.sum(F.round(F.col("x") * F.col("u"), 4).cast("decimal(38,4)"))
            .cast("double").alias("sxu"),
            F.sum(F.round(F.col("u") * F.col("u"), 2).cast("decimal(38,2)"))
            .cast("double").alias("suu"),
        )
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxu") - F.col("sx_d") * F.col("su")
    den = (nd * F.col("sxx_d") - F.col("sx_d") * F.col("sx_d")) * (
        nd * F.col("suu") - F.col("su") * F.col("su")
    )
    r2_aux = num * num / den
    return aux.filter(den != 0).select(
        F.col("n").alias("n_rows"),
        F.round("beta", 6).alias("slope"),
        F.col("alpha").alias("intercept"),
        F.round(r2_aux, 6).alias("r2_aux"),
        F.round(nd * r2_aux, 4).alias("lm_stat"),
        F.when(nd * r2_aux > 3.841, 1).otherwise(0).alias(
            "heteroskedastic_5pct"
        ),
    )


# -- q_yule_walker -----------------------------------------------------
#
# AR(2) Yule-Walker fit of total daily order revenue: phi1, phi2 from
# the biased autocovariances (c0, c1, c2 with the GLOBAL mean — the
# positive-definite estimator), residual-variance ratio
# 1 - phi1*r1 - phi2*r2, and the triangle stationarity check
# (phi1+phi2<1, phi2-phi1<1, |phi2|<1). q_autocorrelation reads the
# raw ACF and q_pacf its partial projection; this entry closes the
# loop by producing the actual AR(2) MODEL coefficients a forecaster
# would hand to q_forecast_backtest. Scale: facts collapse to the
# bounded day grid; the two lag self-joins run on that grid only; the
# fit is a 1-row fold of 6-rounded ratios.

YW_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM orders GROUP BY 1
), mu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS m
  FROM daily
), cen AS (
  SELECT d, CAST(rev AS DOUBLE) - (SELECT m FROM mu) AS z FROM daily
), c0 AS (
  SELECT CAST(SUM(CAST(round(z * z, 4) AS DECIMAL(38,4))) AS DOUBLE)
         / (SELECT n FROM mu) AS c
  FROM cen
), c1 AS (
  SELECT CAST(SUM(CAST(round(a.z * b.z, 4) AS DECIMAL(38,4))) AS DOUBLE)
         / (SELECT n FROM mu) AS c
  FROM cen a JOIN cen b ON b.d = a.d - 1
), c2 AS (
  SELECT CAST(SUM(CAST(round(a.z * b.z, 4) AS DECIMAL(38,4))) AS DOUBLE)
         / (SELECT n FROM mu) AS c
  FROM cen a JOIN cen b ON b.d = a.d - 2
), r AS (
  SELECT (SELECT n FROM mu) AS n,
         round((SELECT c FROM c1) / (SELECT c FROM c0), 6) AS r1,
         round((SELECT c FROM c2) / (SELECT c FROM c0), 6) AS r2
  WHERE (SELECT c FROM c0) > 0
), fit AS (
  SELECT n, r1, r2,
         round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) AS phi1,
         round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS phi2
  FROM r WHERE 1.0 - r1 * r1 <> 0
)
SELECT n AS n_days, r1 AS acf_1, r2 AS acf_2, phi1, phi2,
       round(1.0 - phi1 * r1 - phi2 * r2, 6) AS resid_var_ratio,
       CASE WHEN phi1 + phi2 < 1.0 AND phi2 - phi1 < 1.0
                 AND abs(phi2) < 1.0
            THEN 1 ELSE 0 END AS stationary
FROM fit
"""


@query("q_yule_walker", oracle=YW_SQL)
def q_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(19,2)")
        .alias("rev")
    )
    daily = daily.cache()  # day grid feeds mu, c0, and both lag joins
    mu = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("m"),
    )
    cen = daily.crossJoin(F.broadcast(mu)).select(
        "n", "d", (F.col("rev").cast("double") - F.col("m")).alias("z")
    )
    cen = cen.cache()  # centered grid feeds c0 and both lag joins

    def acov(k: int) -> DataFrame:
        if k == 0:
            pairs = cen.select("n", (F.col("z") * F.col("z")).alias("p"))
        else:
            lagged = cen.select(
                F.date_add(F.col("d"), k).alias("d"), F.col("z").alias("zl")
            )
            pairs = cen.join(lagged, "d").select(
                "n", (F.col("z") * F.col("zl")).alias("p")
            )
        return pairs.groupBy("n").agg(
            (
                F.sum(F.round("p", 4).cast("decimal(38,4)")).cast("double")
                / F.col("n")
            ).alias(f"c{k}")
        ).select(f"c{k}")

    r = (
        acov(0)
        .crossJoin(F.broadcast(acov(1)))
        .crossJoin(F.broadcast(acov(2)))
        .crossJoin(F.broadcast(mu.select("n")))
        .filter(F.col("c0") > 0)
        .select(
            "n",
            F.round(F.col("c1") / F.col("c0"), 6).alias("r1"),
            F.round(F.col("c2") / F.col("c0"), 6).alias("r2"),
        )
    )
    r1, r2 = F.col("r1"), F.col("r2")
    fit = r.filter((1.0 - r1 * r1) != 0).select(
        "n", "r1", "r2",
        F.round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6).alias("phi1"),
        F.round((r2 - r1 * r1) / (1.0 - r1 * r1), 6).alias("phi2"),
    )
    p1, p2 = F.col("phi1"), F.col("phi2")
    return fit.select(
        F.col("n").alias("n_days"),
        r1.alias("acf_1"),
        r2.alias("acf_2"),
        "phi1",
        "phi2",
        F.round(1.0 - p1 * r1 - p2 * r2, 6).alias("resid_var_ratio"),
        F.when(
            (p1 + p2 < 1.0) & (p2 - p1 < 1.0) & (F.abs(p2) < 1.0), 1
        ).otherwise(0).alias("stationary"),
    )


# -- q_isotonic_pava ---------------------------------------------------
#
# Isotonic (monotone non-decreasing) regression of return rate on
# discount level — the order-constrained calibration fit (Barlow's
# pool-adjacent-violators solution) a pipeline uses to turn a noisy
# empirical rate curve into a monotone one before thresholding.
# Computed by the closed-form minimax characterization (equivalent to
# PAVA, but associative): fitted(i) = max_{s<=i} min_{t>=i}
# weightedmean(y over levels s..t). The discount grid has 11 levels,
# so the (s,t) pair grid is 66 cells — one fact scan collapses to
# exact integer (n, pos) per level; everything after is grid algebra
# on integer-ratio doubles (identical in both engines, no rounding
# until output). Scale: map-side partial agg to 11 rows; the nested
# min/max runs on ≤ 11x66 joined rows.

ISO_SQL = """
WITH lev AS (
  SELECT CAST(round(CAST(l_discount AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS lvl,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM lineitem GROUP BY 1
), pref AS (
  SELECT lvl, n, pos,
         ROW_NUMBER() OVER (ORDER BY lvl) AS rk,
         SUM(n) OVER (ORDER BY lvl) AS cn,
         SUM(pos) OVER (ORDER BY lvl) AS cp
  FROM lev
), pairs AS (
  SELECT s.rk AS s, t.rk AS t,
         CAST(t.cp - COALESCE(sp.cp, 0) AS DOUBLE)
         / CAST(t.cn - COALESCE(sp.cn, 0) AS DOUBLE) AS avgy
  FROM pref s
  JOIN pref t ON t.rk >= s.rk
  LEFT JOIN pref sp ON sp.rk = s.rk - 1
), inner_min AS (
  SELECT i.rk, p.s, MIN(p.avgy) AS mn
  FROM pref i JOIN pairs p ON p.s <= i.rk AND p.t >= i.rk
  GROUP BY 1, 2
), fit AS (
  SELECT rk, MAX(mn) AS iso FROM inner_min GROUP BY 1
)
SELECT l.lvl AS discount_pct, l.n, l.pos,
       round(CAST(l.pos AS DOUBLE) / l.n, 6) AS emp_rate,
       round(f.iso, 6) AS iso_rate,
       CASE WHEN round(CAST(l.pos AS DOUBLE) / l.n, 6) <> round(f.iso, 6)
            THEN 1 ELSE 0 END AS pooled
FROM pref l JOIN fit f ON f.rk = l.rk
ORDER BY l.lvl
"""


@query("q_isotonic_pava", oracle=ISO_SQL)
def q_isotonic_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = Catalog(spark, sf_dir).lineitem
    lev = li.groupBy(
        F.round(F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("lvl")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    w = Window.orderBy("lvl")
    pref = lev.select(
        "lvl", "n", "pos",
        F.row_number().over(w).alias("rk"),
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    )
    pref = pref.cache()  # 11-row grid feeds pairs, the level probe, and output
    s = pref.select(F.col("rk").alias("s"))
    t = pref.select(
        F.col("rk").alias("t"), F.col("cp").alias("tcp"), F.col("cn").alias("tcn")
    )
    sp = pref.select(
        (F.col("rk") + 1).alias("s"), F.col("cp").alias("scp"),
        F.col("cn").alias("scn"),
    )
    pairs = (
        s.join(t, F.col("t") >= F.col("s"))
        .join(sp, "s", "left")
        .select(
            "s", "t",
            (
                (F.col("tcp") - F.coalesce(F.col("scp"), F.lit(0))).cast("double")
                / (F.col("tcn") - F.coalesce(F.col("scn"), F.lit(0))).cast(
                    "double"
                )
            ).alias("avgy"),
        )
    )
    i = pref.select(F.col("rk").alias("irk"))
    inner_min = (
        i.join(pairs, (F.col("s") <= F.col("irk")) & (F.col("t") >= F.col("irk")))
        .groupBy("irk", "s")
        .agg(F.min("avgy").alias("mn"))
    )
    fit = inner_min.groupBy("irk").agg(F.max("mn").alias("iso"))
    emp = F.round(F.col("pos").cast("double") / F.col("n"), 6)
    iso = F.round(F.col("iso"), 6)
    return (
        pref.join(F.broadcast(fit), F.col("irk") == F.col("rk"))
        .select(
            F.col("lvl").alias("discount_pct"),
            "n", "pos",
            emp.alias("emp_rate"),
            iso.alias("iso_rate"),
            F.when(emp != iso, 1).otherwise(0).alias("pooled"),
        )
        .orderBy("lvl")
    )


# -- q_hosmer_lemeshow -------------------------------------------------
#
# Hosmer-Lemeshow goodness-of-fit test of the q_calibration_ece
# scorer (train-half purchase rate per fixed value bin, DECIMAL(8,6)
# scores) on the eval half: group by predicted score, chi-square
# HL = sum (O - n*s)^2 / (n*s*(1-s)) over the score groups, df = g-2,
# and the Wilson-Hilferty cube-root normal approximation turns the
# chi-square into a z and a one-sided p = _normal.phi(-z). Where
# q_calibration_ece reports the gap SIZES (ECE/Brier), this is the
# significance TEST of the same reliability diagram. Each HL term is
# 6-rounded then decimal-folded (order-independent); everything
# downstream is one identical double chain. Scale: two scans to the
# <=10-score grid.

HL_SPLIT = "2024-01-16"

HL_SQL = f"""
WITH ev AS (
  SELECT LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS vbin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST(ts AS DATE) < DATE '{HL_SPLIT}' THEN 1 ELSE 0 END
           AS is_train
  FROM events WHERE value IS NOT NULL
), model AS (
  SELECT vbin,
         CAST(round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(8,6))
           AS score
  FROM ev WHERE is_train = 1 GROUP BY 1
), grp AS (
  SELECT CAST(m.score AS DOUBLE) AS s,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(e.y) AS BIGINT) AS obs
  FROM ev e JOIN model m ON m.vbin = e.vbin
  WHERE e.is_train = 0
  GROUP BY 1
), term AS (
  SELECT s, n, obs, s * n AS expd,
         round((obs - s * n) * (obs - s * n) / (n * s * (1.0 - s)), 6)
           AS hl_term
  FROM grp WHERE s > 0 AND s < 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS g,
         CAST(SUM(CAST(hl_term AS DECIMAL(28,6))) AS DOUBLE) AS hl
  FROM term
), wh AS (
  SELECT g, hl, g - 2 AS df,
         round((pow(hl / (g - 2), 1.0 / 3.0)
                - (1.0 - 2.0 / (9.0 * (g - 2))))
               / sqrt(2.0 / (9.0 * (g - 2))), 6) AS z
  FROM tot WHERE g > 2 AND hl > 0
)
SELECT t.s AS score, t.n, t.obs, round(t.expd, 2) AS expected,
       t.hl_term,
       round(w.hl, 4) AS hl_stat,
       CAST(w.df AS BIGINT) AS df,
       w.z AS z_wh,
       round({phi('-w.z')}, 6) AS p_miscalibrated
FROM term t CROSS JOIN wh w
ORDER BY t.s
"""


@query("q_hosmer_lemeshow", oracle=HL_SQL)
def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    ev = e.filter(F.col("value").isNotNull()).select(
        F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)).alias(
            "vbin"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (F.to_date("ts") < F.lit(HL_SPLIT)).alias("is_train"),
    )
    model = (
        ev.filter("is_train")
        .groupBy("vbin")
        .agg(
            F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 6)
            .cast("decimal(8,6)")
            .alias("score")
        )
    )
    grp = (
        ev.filter(~F.col("is_train"))
        .join(F.broadcast(model), "vbin")
        .groupBy(F.col("score").cast("double").alias("s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("obs"),
        )
    )
    s, n, obs = F.col("s"), F.col("n"), F.col("obs")
    term = grp.filter((s > 0) & (s < 1)).select(
        "s", "n", "obs",
        (s * n).alias("expd"),
        F.round((obs - s * n) * (obs - s * n) / (n * s * (1.0 - s)), 6).alias(
            "hl_term"
        ),
    )
    term = term.cache()  # <=10-row grid feeds the fold AND the output rows
    tot = term.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum(F.col("hl_term").cast("decimal(28,6)")).cast("double").alias("hl"),
    )
    g, hl = F.col("g"), F.col("hl")
    dfree = (g - 2).cast("double")
    wh = tot.filter((g > 2) & (hl > 0)).select(
        "g", "hl", (g - 2).alias("df"),
        F.round(
            (F.pow(hl / dfree, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * dfree)))
            / F.sqrt(2.0 / (9.0 * dfree)),
            6,
        ).alias("z"),
    )
    z = F.col("z")
    p = phi(-z)
    return (
        term.crossJoin(F.broadcast(wh))
        .select(
            s.alias("score"), "n", "obs",
            F.round("expd", 2).alias("expected"),
            "hl_term",
            F.round(hl, 4).alias("hl_stat"),
            F.col("df").cast("bigint").alias("df"),
            z.alias("z_wh"),
            F.round(p, 6).alias("p_miscalibrated"),
        )
        .orderBy("score")
    )


# -- q_storey_pi0 ------------------------------------------------------
#
# Storey's positive-FDR q-values over a 25-test family (per-brand
# "is this brand's mean retail price off the global mean?" z-tests):
# estimate the null proportion pi0 = #{p > 0.5}/(m * 0.5) (lambda =
# 0.5, clamped to [1/m, 1]), then q_j = min_{k>=j}(pi0 * m * p_k / k)
# — the sharper, adaptive version of q_bh_fdr's step-up (BH assumes
# pi0 = 1; Storey recovers power when many alternatives are real).
# P-values via _normal.erfc_sqrt2 on exact-decimal moment z's,
# 9-rounded before ranking so the order is cross-engine stable.
# Scale: one part scan to the 25-brand grid + broadcast 1-row global;
# everything after touches 25 rows.

STOREY_SQL = f"""
WITH p0 AS (
  SELECT p_brand, CAST(p_retailprice AS DECIMAL(18,2)) AS pr FROM part
), per AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(pr) AS DECIMAL(28,2)) AS s1
  FROM p0 GROUP BY 1
), gstat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pr) AS DECIMAL(28,2)) AS s,
         CAST(SUM(pr * pr) AS DECIMAL(38,4)) AS ssq
  FROM p0
), zt AS (
  SELECT p_brand, n1,
         round(CAST(s1 AS DOUBLE) / n1, 6) AS mean_price,
         round(
           (CAST(s1 AS DOUBLE) / n1 - CAST(s AS DOUBLE) / n)
           / (sqrt((CAST(ssq AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
              / sqrt(CAST(n1 AS DOUBLE))), 6) AS z
  FROM per CROSS JOIN gstat
), pv AS (
  SELECT p_brand, n1, mean_price, z,
         round({erfc_sqrt2('abs(z)')}, 9) AS p_raw
  FROM zt
), pi0c AS (
  SELECT round(
           LEAST(1.0,
             GREATEST(
               CAST(SUM(CASE WHEN p_raw > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
               / (COUNT(*) * 0.5),
               1.0 / COUNT(*))), 6) AS pi0,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM pv
), rk AS (
  SELECT p_brand, n1, mean_price, z, p_raw, pi0, m,
         ROW_NUMBER() OVER (ORDER BY p_raw, p_brand) AS j
  FROM pv CROSS JOIN pi0c
)
SELECT p_brand, n1, mean_price, z, p_raw, pi0,
       round(LEAST(1.0,
         MIN(p_raw * pi0 * m / j) OVER (ORDER BY j DESC)), 6) AS q_value,
       CASE WHEN round(LEAST(1.0,
              MIN(p_raw * pi0 * m / j) OVER (ORDER BY j DESC)), 6) <= 0.10
            THEN 1 ELSE 0 END AS discovery
FROM rk
ORDER BY p_brand
"""


@query("q_storey_pi0", oracle=STOREY_SQL)
def q_storey_pi0(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = Catalog(spark, sf_dir).part
    p0 = part.select(
        "p_brand", F.col("p_retailprice").cast("decimal(18,2)").alias("pr")
    )
    per = p0.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("pr").cast("decimal(28,2)").alias("s1"),
    )
    gstat = p0.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pr").cast("decimal(28,2)").alias("s"),
        F.sum(F.col("pr") * F.col("pr")).cast("decimal(38,4)").alias("ssq"),
    )
    n, n1 = F.col("n"), F.col("n1")
    sd, s1d = F.col("s").cast("double"), F.col("s1").cast("double")
    mean1, mu = s1d / n1, sd / n
    sigma = F.sqrt((F.col("ssq").cast("double") - sd * sd / n) / n)
    zt = per.join(F.broadcast(gstat)).select(
        "p_brand", "n1",
        F.round(mean1, 6).alias("mean_price"),
        F.round((mean1 - mu) / (sigma / F.sqrt(n1.cast("double"))), 6).alias(
            "z"
        ),
    )
    pv = zt.select(
        "p_brand", "n1", "mean_price", "z",
        F.round(erfc_sqrt2(F.abs(F.col("z"))), 9).alias("p_raw"),
    )
    pv = pv.cache()  # 25-row grid feeds pi0 AND the ranked q-value chain
    pi0c = pv.agg(
        F.round(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.sum(F.when(F.col("p_raw") > 0.5, 1).otherwise(0)).cast(
                        "double"
                    )
                    / (F.count(F.lit(1)) * 0.5),
                    1.0 / F.count(F.lit(1)),
                ),
            ),
            6,
        ).alias("pi0"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    rk = pv.crossJoin(F.broadcast(pi0c)).select(
        "*", F.row_number().over(Window.orderBy("p_raw", "p_brand")).alias("j")
    )
    suffix_min = F.min(
        F.col("p_raw") * F.col("pi0") * F.col("m") / F.col("j")
    ).over(Window.orderBy(F.desc("j")))
    qv = F.round(F.least(F.lit(1.0), suffix_min), 6)
    return rk.select(
        "p_brand", "n1", "mean_price", "z", "p_raw", "pi0",
        qv.alias("q_value"),
        F.when(qv <= 0.10, 1).otherwise(0).alias("discovery"),
    ).orderBy("p_brand")


# -- q_wilcoxon_signed_rank --------------------------------------------
#
# Wilcoxon signed-rank test of per-customer spend, first half of the
# horizon vs second (paired, customers active in both): the
# distribution-free paired-difference test q_mannwhitney (independent
# samples) and q_ab_test (z on means) don't cover. Differences are
# exact decimals so tie groups are deterministic; average ranks are
# half-integers folded as DECIMAL(28,1); the tie-corrected normal
# approximation z = (W+ − n(n+1)/4)/sigma with sigma^2 =
# n(n+1)(2n+1)/24 − Σ(t³−t)/48, p two-sided = _normal.erfc_sqrt2(|z|).
# Scale: one orders scan collapses to per-customer pairs (natural
# custkey shuffle); the rank is ONE global sort over the paired
# customers (range-partitioned total order, mr_total_sort precedent);
# everything after is a 1-row fold.

WSR_SPLIT = "1995-06-01"

WSR_SQL = f"""
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '{WSR_SPLIT}'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
              AS DECIMAL(28,2)) AS s1,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{WSR_SPLIT}'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
              AS DECIMAL(28,2)) AS s2
  FROM orders GROUP BY 1
), pairs AS (
  SELECT o_custkey, s2 - s1 AS d, abs(s2 - s1) AS absd
  FROM per WHERE s1 IS NOT NULL AND s2 IS NOT NULL AND s2 <> s1
), rk AS (
  SELECT d, absd,
         RANK() OVER (ORDER BY absd) AS lo,
         COUNT(*) OVER (PARTITION BY absd) AS t
  FROM pairs
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN d > 0
                  THEN CAST(lo + (t - 1) / 2.0 AS DECIMAL(28,1)) END)
              AS DOUBLE) AS w_plus
  FROM rk
), ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tcorr
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pairs GROUP BY absd)
), stat AS (
  SELECT n, n_pos, w_plus,
         n * (n + 1.0) / 4.0 AS mu,
         sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
              - (SELECT tcorr FROM ties) / 48.0) AS sigma
  FROM agg WHERE n > 1
)
SELECT n AS n_pairs, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
       w_plus, round(mu, 2) AS mu,
       round(sigma, 6) AS sigma,
       round((w_plus - mu) / sigma, 6) AS z,
       round({erfc_sqrt2('abs((w_plus - mu) / sigma)')}, 9) AS p_two
FROM stat WHERE sigma > 0
"""


@query("q_wilcoxon_signed_rank", oracle=WSR_SQL)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    tp = F.col("o_totalprice").cast("decimal(18,2)")
    early = F.to_date("o_orderdate") < F.lit(WSR_SPLIT)
    per = o.groupBy("o_custkey").agg(
        F.sum(F.when(early, tp)).cast("decimal(28,2)").alias("s1"),
        F.sum(F.when(~early, tp)).cast("decimal(28,2)").alias("s2"),
    )
    pairs = per.filter(
        F.col("s1").isNotNull()
        & F.col("s2").isNotNull()
        & (F.col("s2") != F.col("s1"))
    ).select(
        (F.col("s2") - F.col("s1")).alias("d"),
        F.abs(F.col("s2") - F.col("s1")).alias("absd"),
    )
    # The rank pass works on the DISTINCT |d| grid, which still scales
    # with the data (~7k rows crossed the old global-rank singleton at
    # sf0.1), so the tie-group rank-low is a TWO-PHASE global cumsum
    # of group counts over floor(absd/4096) buckets (bounded spend-
    # delta domain, plans/prefix.py): lo = cum - t + 1, and every pair
    # in a tie group shares avg_rank, so W+ = sum(pos_t * avg_rank)
    # exactly (sum of k identical decimals = k x the decimal).
    g = pairs.groupBy("absd").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint").alias("pos_t"),
    )
    g = two_phase_cumsum(
        g, ["absd"], F.col("t"),
        F.floor(F.col("absd") / 4096).cast("bigint"), out="cumt",
    )
    g = g.cache()  # grid-sized; feeds the W+ fold AND the tie correction
    avg_rank = (
        (F.col("cumt") - F.col("t") + 1) + (F.col("t") - 1) / 2.0
    ).cast("decimal(28,1)")
    agg = g.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum("pos_t").cast("bigint").alias("n_pos"),
        F.sum(F.col("pos_t") * avg_rank).cast("double").alias("w_plus"),
    )
    ties = g.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tcorr")
    )
    n = F.col("n")
    stat = (
        agg.filter(n > 1)
        .crossJoin(F.broadcast(ties))
        .select(
            "n", "n_pos", "w_plus",
            (n * (n + 1.0) / 4.0).alias("mu"),
            F.sqrt(
                n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - F.col("tcorr") / 48.0
            ).alias("sigma"),
        )
    )
    z = (F.col("w_plus") - F.col("mu")) / F.col("sigma")
    return stat.filter(F.col("sigma") > 0).select(
        n.alias("n_pairs"),
        "n_pos",
        (n - F.col("n_pos")).cast("bigint").alias("n_neg"),
        "w_plus",
        F.round("mu", 2).alias("mu"),
        F.round("sigma", 6).alias("sigma"),
        F.round(z, 6).alias("z"),
        F.round(erfc_sqrt2(F.abs(z)), 9).alias("p_two"),
    )


# -- q_atkinson_index --------------------------------------------------
#
# Atkinson inequality indices (epsilon = 0.5 and 1.0) of per-customer
# total spend: the welfare-theoretic inequality family beside q_gini
# (rank-based), q_theil_index (entropy) and q_hhi (concentration) —
# epsilon makes the bottom-sensitivity explicit. A_eps = 1 −
# EDE/mean with EDE = (mean sqrt(y))² at eps=.5 and geomean =
# exp(mean ln y) at eps=1. The sqrt/ln per-customer terms are
# 9-rounded decimal folds (q_survival_km exp/ln precedent) so the
# one final exp/square runs on identical doubles. Scale: one orders
# scan to per-customer sums on the natural custkey shuffle, then a
# 1-row fold.

ATKINSON_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS y
  FROM orders GROUP BY 1
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS DOUBLE) AS s,
         CAST(SUM(CAST(round(sqrt(CAST(y AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS s_sqrt,
         CAST(SUM(CAST(round(ln(CAST(y AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS s_ln
  FROM per WHERE y > 0
)
SELECT n AS n_customers,
       round(s / n, 2) AS mean_spend,
       round((s_sqrt / n) * (s_sqrt / n), 2) AS ede_05,
       round(exp(s_ln / n), 2) AS ede_10,
       round(1.0 - (s_sqrt / n) * (s_sqrt / n) / (s / n), 6) AS atkinson_05,
       round(1.0 - exp(s_ln / n) / (s / n), 6) AS atkinson_10
FROM agg WHERE n > 0 AND s > 0
"""


@query("q_atkinson_index", oracle=ATKINSON_SQL)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    per = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("y")
    )
    y_d = F.col("y").cast("double")
    agg = per.filter(F.col("y") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("double").alias("s"),
        F.sum(F.round(F.sqrt(y_d), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("s_sqrt"),
        F.sum(F.round(F.log(y_d), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("s_ln"),
    )
    n, s = F.col("n"), F.col("s")
    ede05 = (F.col("s_sqrt") / n) * (F.col("s_sqrt") / n)
    ede10 = F.exp(F.col("s_ln") / n)
    return agg.filter((n > 0) & (s > 0)).select(
        n.alias("n_customers"),
        F.round(s / n, 2).alias("mean_spend"),
        F.round(ede05, 2).alias("ede_05"),
        F.round(ede10, 2).alias("ede_10"),
        F.round(1.0 - ede05 / (s / n), 6).alias("atkinson_05"),
        F.round(1.0 - ede10 / (s / n), 6).alias("atkinson_10"),
    )


# -- q_moran_i ---------------------------------------------------------
#
# Moran's I spatial autocorrelation of nation mean account balance
# over the same-region adjacency (w_ij = 1 iff regions match, i != j):
# "do nearby nations have similar balances?" — the spatial-stats
# primitive none of the variance tests cover. The pair sum needs NO
# pair join: Σ_{i≠j,same r} z_i z_j = Σ_r [(Σ_i z_i)² − Σ_i z_i²],
# S0 = Σ_r s_r(s_r−1), S1 = 2·S0, S2 = 4·Σ_r s_r(s_r−1)² — all
# region-level integer/decimal folds. z-score under the normality
# null with E[I] = −1/(n−1) and the standard S0/S1/S2 variance;
# p one-sided (clustered if high) = _normal.phi(-z). Scale:
# one customer scan to the 25-nation grid (broadcast nation dim),
# then region-grid algebra.

MORAN_SQL = f"""
WITH nm AS (
  SELECT n_nationkey, n_regionkey,
         round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS v
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS vbar
  FROM nm
), z AS (
  SELECT n_regionkey,
         CAST(round(v - (SELECT vbar FROM g), 9) AS DECIMAL(28,9)) AS z
  FROM nm
), reg AS (
  SELECT n_regionkey,
         CAST(COUNT(*) AS BIGINT) AS s_r,
         CAST(SUM(z) AS DOUBLE) AS sz,
         CAST(SUM(CAST(round(CAST(z AS DOUBLE) * CAST(z AS DOUBLE), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS szz
  FROM z GROUP BY 1
), agg AS (
  SELECT (SELECT n FROM g) AS n,
         CAST(SUM(s_r * (s_r - 1)) AS BIGINT) AS s0,
         CAST(SUM(s_r * (s_r - 1) * (s_r - 1)) AS BIGINT) AS srow2,
         CAST(SUM(CAST(round(sz * sz - szz, 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS num,
         CAST(SUM(szz) AS DOUBLE) AS den
  FROM reg
), stat AS (
  SELECT n, s0,
         round(n * num / (s0 * den), 6) AS moran_i,
         round(-1.0 / (n - 1), 6) AS e_i,
         (n * n * (2.0 * s0) - n * (4.0 * srow2) + 3.0 * s0 * s0)
         / (CAST(s0 AS DOUBLE) * s0 * (n * n - 1.0))
         - 1.0 / ((n - 1.0) * (n - 1.0)) AS var_i
  FROM agg WHERE s0 > 0 AND den > 0 AND n > 2
)
SELECT n AS n_nations, s0,
       moran_i, e_i,
       round(var_i, 9) AS var_i,
       round((moran_i - e_i) / sqrt(var_i), 6) AS z,
       round({phi('-((moran_i - e_i) / sqrt(var_i))')}, 9) AS p_clustered,
       CASE WHEN (moran_i - e_i) / sqrt(var_i) > 1.645 THEN 1 ELSE 0 END
         AS clustered_5pct
FROM stat WHERE var_i > 0
"""


@query("q_moran_i", oracle=MORAN_SQL)
def q_moran_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    nm = (
        cat.customer.join(
            F.broadcast(cat.nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_nationkey", "n_regionkey")
        .agg(
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("v")
        )
    )
    nm = nm.cache()  # 25-row grid feeds the global mean AND the z grid
    g = nm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("vbar"),
    )
    z = nm.crossJoin(F.broadcast(g)).select(
        "n_regionkey", "n",
        F.round(F.col("v") - F.col("vbar"), 9).cast("decimal(28,9)").alias("z"),
    )
    zd = F.col("z").cast("double")
    reg = z.groupBy("n_regionkey", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_r"),
        F.sum("z").cast("double").alias("sz"),
        F.sum(F.round(zd * zd, 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("szz"),
    )
    sr = F.col("s_r")
    agg = reg.groupBy("n").agg(
        F.sum(sr * (sr - 1)).cast("bigint").alias("s0"),
        F.sum(sr * (sr - 1) * (sr - 1)).cast("bigint").alias("srow2"),
        F.sum(
            F.round(F.col("sz") * F.col("sz") - F.col("szz"), 9).cast(
                "decimal(28,9)"
            )
        )
        .cast("double")
        .alias("num"),
        F.sum("szz").cast("double").alias("den"),
    )
    n, s0 = F.col("n"), F.col("s0")
    stat = agg.filter((s0 > 0) & (F.col("den") > 0) & (n > 2)).select(
        "n", "s0",
        F.round(n * F.col("num") / (s0 * F.col("den")), 6).alias("moran_i"),
        F.round(-1.0 / (n - 1), 6).alias("e_i"),
        (
            (n * n * (2.0 * s0) - n * (4.0 * F.col("srow2")) + 3.0 * s0 * s0)
            / (s0.cast("double") * s0 * (n * n - 1.0))
            - 1.0 / ((n - 1.0) * (n - 1.0))
        ).alias("var_i"),
    )
    zs = (F.col("moran_i") - F.col("e_i")) / F.sqrt(F.col("var_i"))
    p = phi(-zs)
    return stat.filter(F.col("var_i") > 0).select(
        n.alias("n_nations"), "s0", "moran_i", "e_i",
        F.round("var_i", 9).alias("var_i"),
        F.round(zs, 6).alias("z"),
        F.round(p, 9).alias("p_clustered"),
        F.when(zs > 1.645, 1).otherwise(0).alias("clustered_5pct"),
    )


# -- q_kpss_lite -------------------------------------------------------
#
# KPSS level-stationarity statistic of daily revenue (lag-0 /
# short-run variance form): eta = sum_t S_t^2 / (n^2 sigma^2) with
# S_t the running partial sums of the demeaned series — the
# complement of the unit-root diagnostics (q_cointegration tests a
# relationship, q_hurst_exponent long memory, q_runs_test sign
# randomness; KPSS's null is STATIONARITY, so a level series is
# flagged only when evidence is strong). Partial sums fold 6-rounded
# decimals through ONE ordered day-grid window (deterministic order,
# exact accumulation); the squares fold as 4-rounded decimals.
# Compared against the literal 5% critical value 0.463. Scale: facts
# collapse to the bounded day grid; the window runs on that grid.

KPSS_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM orders GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS m
  FROM daily
), z AS (
  SELECT d, CAST(round(CAST(rev AS DOUBLE) - (SELECT m FROM g), 6)
            AS DECIMAL(28,6)) AS z
  FROM daily
), cum AS (
  SELECT d, CAST(z AS DOUBLE) AS zd,
         CAST(SUM(z) OVER (ORDER BY d) AS DOUBLE) AS s_t
  FROM z
), agg AS (
  SELECT (SELECT n FROM g) AS n,
         CAST(SUM(CAST(round(s_t * s_t, 4) AS DECIMAL(38,4))) AS DOUBLE)
           AS ss,
         CAST(SUM(CAST(round(zd * zd, 4) AS DECIMAL(38,4))) AS DOUBLE)
           AS szz
  FROM cum
)
SELECT n AS n_days,
       round(szz / n, 2) AS sigma2,
       round(ss / (CAST(n AS DOUBLE) * n * (szz / n)), 6) AS kpss_stat,
       CASE WHEN ss / (CAST(n AS DOUBLE) * n * (szz / n)) < 0.463
            THEN 1 ELSE 0 END AS level_stationary_5pct
FROM agg WHERE n > 1 AND szz > 0
"""


@query("q_kpss_lite", oracle=KPSS_SQL)
def q_kpss_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(19,2)")
        .alias("rev")
    )
    daily = daily.cache()  # day grid feeds the global mean AND the window
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("m"),
    )
    z = daily.crossJoin(F.broadcast(g)).select(
        "d", "n",
        F.round(F.col("rev").cast("double") - F.col("m"), 6)
        .cast("decimal(28,6)")
        .alias("z"),
    )
    cum = z.select(
        "n",
        F.col("z").cast("double").alias("zd"),
        F.sum("z").over(Window.orderBy("d")).cast("double").alias("s_t"),
    )
    # Decimal-headroom audit (r9): the cumsum operand z is (28,6), so
    # the running sum widens to (38,6) — ten digits of headroom over
    # |days| <= ~2466 grid terms. The squared-term sums below stay at
    # (38,4) deliberately: |s_t| <= days * max|z| (~1e13 even at
    # SF1000 daily-revenue magnitudes), so s_t^2 <= ~1e26 and the
    # total <= ~1e30 << 1e34 capacity; narrowing to (28,4) would
    # overflow at SF1000 (s_t^2 > 1e24). Bound restated from the
    # q_rolling_beta fix (risk.py:664).
    agg = cum.groupBy("n").agg(
        F.sum(F.round(F.col("s_t") * F.col("s_t"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("ss"),
        F.sum(F.round(F.col("zd") * F.col("zd"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("szz"),
    )
    n = F.col("n")
    stat = F.col("ss") / (n.cast("double") * n * (F.col("szz") / n))
    return agg.filter((n > 1) & (F.col("szz") > 0)).select(
        n.alias("n_days"),
        F.round(F.col("szz") / n, 2).alias("sigma2"),
        F.round(stat, 6).alias("kpss_stat"),
        F.when(stat < 0.463, 1).otherwise(0).alias("level_stationary_5pct"),
    )


# -- q_market_beta -----------------------------------------------------
#
# Per-brand "market beta" of daily ship revenue vs the total market:
# beta_b = cov(brand, market)/var(market) over the zero-filled day
# grid, with alpha and correlation — the systematic-vs-idiosyncratic
# decomposition (which brands amplify marketwide swings, which hedge
# them) that q_rolling_corr (two fixed series) and q_item_cf
# (basket cosine) don't answer. Zero-filling matters: a brand with
# no sales on a hot market day has beta pulled DOWN, which the
# sparse join would silently miss. Scale: one fact scan to the
# |brand|x|day| grid (broadcast brands x bounded day grid), exact
# decimal moment folds per brand, constant-work algebra after.

MKT_BETA_SQL = """
WITH bd AS (
  SELECT p_brand, CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2))
           AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), days AS (
  SELECT d, CAST(SUM(rev) AS DECIMAL(19,2)) AS mkt FROM bd GROUP BY 1
), grid AS (
  SELECT b.p_brand, dy.d, dy.mkt, COALESCE(bd.rev, 0) AS rev
  FROM (SELECT DISTINCT p_brand FROM bd) b
  CROSS JOIN days dy
  LEFT JOIN bd ON bd.p_brand = b.p_brand AND bd.d = dy.d
), m AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS DECIMAL(19,2)) AS sb,
         CAST(SUM(mkt) AS DECIMAL(19,2)) AS sm,
         CAST(SUM(rev * mkt) AS DECIMAL(30,4)) AS sbm,
         CAST(SUM(rev * rev) AS DECIMAL(30,4)) AS sbb,
         CAST(SUM(mkt * mkt) AS DECIMAL(30,4)) AS smm
  FROM grid GROUP BY 1
)
SELECT p_brand, n AS n_days,
       round(CAST(sb AS DOUBLE) / n, 2) AS mean_brand,
       round(CAST(n * sbm - sb * sm AS DOUBLE)
             / CAST(n * smm - sm * sm AS DOUBLE), 6) AS beta,
       round(CAST(sb AS DOUBLE) / n
             - CAST(n * sbm - sb * sm AS DOUBLE)
               / CAST(n * smm - sm * sm AS DOUBLE)
               * CAST(sm AS DOUBLE) / n, 2) AS alpha,
       round(CAST(n * sbm - sb * sm AS DOUBLE)
             / sqrt(CAST(n * sbb - sb * sb AS DOUBLE)
                    * CAST(n * smm - sm * sm AS DOUBLE)), 6) AS corr_mkt,
       CASE WHEN CAST(n * sbm - sb * sm AS DOUBLE)
                 / CAST(n * smm - sm * sm AS DOUBLE) > 1.0
            THEN 1 ELSE 0 END AS amplifier
FROM m
WHERE n * smm - sm * sm <> 0 AND n * sbb - sb * sb <> 0
ORDER BY p_brand
"""


@query("q_market_beta", oracle=MKT_BETA_SQL)
def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    bd = (
        cat.lineitem.join(
            F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
        )
        .groupBy("p_brand", F.to_date("l_shipdate").alias("d"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(19,2)")
            .alias("rev")
        )
    )
    bd = bd.cache()  # brand-day grid feeds market totals, brands, and the fill
    days = bd.groupBy("d").agg(
        F.sum("rev").cast("decimal(19,2)").alias("mkt")
    )
    # Zero-filled grid without the data-sized join (r11, the
    # q_rolling_beta pattern): the calendar-bounded day axis collapses
    # to ONE broadcast row of (d, mkt) structs and each brand's
    # revenue becomes a map lookup; the explode preserves the
    # groupBy's HashPartitioning(p_brand), so the moment aggregation
    # below runs exchange-free. Rows and decimals identical to the
    # brands x days LEFT JOIN.
    days_row = days.groupBy().agg(
        F.collect_list(F.struct("d", "mkt")).alias("ds")
    )
    bmap = bd.groupBy("p_brand").agg(
        F.map_from_entries(F.collect_list(F.struct("d", "rev"))).alias("rm")
    )
    grid = (
        bmap.join(F.broadcast(days_row))
        .select("p_brand", "rm", F.explode("ds").alias("dm"))
        .select(
            "p_brand",
            F.col("dm.mkt").alias("mkt"),
            F.coalesce(
                F.element_at(F.col("rm"), F.col("dm.d")),
                F.lit(0).cast("decimal(19,2)"),
            ).alias("rev"),
        )
    )
    m = grid.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev").cast("decimal(19,2)").alias("sb"),
        F.sum("mkt").cast("decimal(19,2)").alias("sm"),
        F.sum(F.col("rev") * F.col("mkt")).cast("decimal(30,4)").alias("sbm"),
        F.sum(F.col("rev") * F.col("rev")).cast("decimal(30,4)").alias("sbb"),
        F.sum(F.col("mkt") * F.col("mkt")).cast("decimal(30,4)").alias("smm"),
    )
    n = F.col("n")
    cov = (n * F.col("sbm") - F.col("sb") * F.col("sm")).cast("double")
    vm = (n * F.col("smm") - F.col("sm") * F.col("sm")).cast("double")
    vb = (n * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    beta = cov / vm
    return (
        m.filter((vm != 0) & (vb != 0))
        .select(
            "p_brand",
            n.alias("n_days"),
            F.round(F.col("sb").cast("double") / n, 2).alias("mean_brand"),
            F.round(beta, 6).alias("beta"),
            F.round(
                F.col("sb").cast("double") / n
                - beta * F.col("sm").cast("double") / n,
                2,
            ).alias("alpha"),
            F.round(cov / F.sqrt(vb * vm), 6).alias("corr_mkt"),
            F.when(beta > 1.0, 1).otherwise(0).alias("amplifier"),
        )
        .orderBy("p_brand")
    )


# -- q_iv_wald ---------------------------------------------------------
#
# Instrumental-variables (Wald) estimate of the discount -> quantity
# effect using first-line-of-order position as the binary instrument
# (line position is assigned by order assembly, plausibly unrelated
# to the item's own demand shock): beta_iv =
# (E[y|z=1] − E[y|z=0]) / (E[x|z=1] − E[x|z=0]) — the causal-
# inference estimator for when the regressor is endogenous (observed
# discount correlates with unobserved demand; q_regression's OLS
# slope is then biased, q_diff_in_diff needs a time shock, q_cem_att
# needs conditioning covariates — IV needs only an exogenous
# instrument). Reports the first-stage strength (difference in x
# with its z/F statistic — weak-instrument gate at F < 10) and the
# naive OLS slope for contrast. Everything is two-group exact
# decimal moments from ONE fact scan; the estimator is a 1-row
# double chain.

IV_SQL = """
WITH m AS (
  SELECT CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END AS z,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sx,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS sy,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sxx,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sxy
  FROM lineitem GROUP BY 1
), two AS (
  SELECT
    (SELECT n FROM m WHERE z = 1) AS n1,
    (SELECT n FROM m WHERE z = 0) AS n0,
    CAST((SELECT sx FROM m WHERE z = 1) AS DOUBLE) AS sx1,
    CAST((SELECT sx FROM m WHERE z = 0) AS DOUBLE) AS sx0,
    CAST((SELECT sy FROM m WHERE z = 1) AS DOUBLE) AS sy1,
    CAST((SELECT sy FROM m WHERE z = 0) AS DOUBLE) AS sy0,
    CAST((SELECT sxx FROM m WHERE z = 1) AS DOUBLE)
      + CAST((SELECT sxx FROM m WHERE z = 0) AS DOUBLE) AS sxx,
    CAST((SELECT sxy FROM m WHERE z = 1) AS DOUBLE)
      + CAST((SELECT sxy FROM m WHERE z = 0) AS DOUBLE) AS sxy
), s AS (
  SELECT n1, n0, n1 + n0 AS n,
         sx1 / n1 - sx0 / n0 AS dx,
         sy1 / n1 - sy0 / n0 AS dy,
         (sxx - (sx1 + sx0) * (sx1 + sx0) / (n1 + n0))
           / (n1 + n0) AS vx,
         (sxy - (sx1 + sx0) * (sy1 + sy0) / (n1 + n0))
           / (n1 + n0) AS cxy
  FROM two WHERE n1 > 0 AND n0 > 0
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(n1 AS BIGINT) AS n_instrumented,
       round(dx, 6) AS first_stage_dx,
       round(dx * dx / (vx * (1.0 / n1 + 1.0 / n0)), 4) AS first_stage_f,
       CASE WHEN dx * dx / (vx * (1.0 / n1 + 1.0 / n0)) < 10.0
            THEN 1 ELSE 0 END AS weak_instrument,
       round(dy / dx, 6) AS wald_beta,
       round(cxy / vx, 6) AS ols_beta
FROM s WHERE dx <> 0 AND vx > 0
"""


@query("q_iv_wald", oracle=IV_SQL)
def q_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    xd = F.col("l_discount").cast("decimal(18,2)")
    yq = F.col("l_quantity").cast("decimal(18,2)")
    m = li.groupBy(
        F.when(F.col("l_linenumber") == 1, 1).otherwise(0).alias("z")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).cast("decimal(19,2)").alias("sx"),
        F.sum(yq).cast("decimal(19,2)").alias("sy"),
        F.sum(xd * xd).cast("decimal(30,4)").alias("sxx"),
        F.sum(xd * yq).cast("decimal(30,4)").alias("sxy"),
    )
    m = m.cache()  # 2-row grid feeds both group pivots
    g1 = m.filter(F.col("z") == 1).select(
        F.col("n").alias("n1"),
        F.col("sx").cast("double").alias("sx1"),
        F.col("sy").cast("double").alias("sy1"),
        F.col("sxx").cast("double").alias("sxx1"),
        F.col("sxy").cast("double").alias("sxy1"),
    )
    g0 = m.filter(F.col("z") == 0).select(
        F.col("n").alias("n0"),
        F.col("sx").cast("double").alias("sx0"),
        F.col("sy").cast("double").alias("sy0"),
        F.col("sxx").cast("double").alias("sxx0"),
        F.col("sxy").cast("double").alias("sxy0"),
    )
    two = g1.crossJoin(F.broadcast(g0)).filter(
        (F.col("n1") > 0) & (F.col("n0") > 0)
    )
    n1, n0 = F.col("n1"), F.col("n0")
    n = n1 + n0
    sx = F.col("sx1") + F.col("sx0")
    sy = F.col("sy1") + F.col("sy0")
    dx = F.col("sx1") / n1 - F.col("sx0") / n0
    dy = F.col("sy1") / n1 - F.col("sy0") / n0
    vx = ((F.col("sxx1") + F.col("sxx0")) - sx * sx / n) / n
    cxy = ((F.col("sxy1") + F.col("sxy0")) - sx * sy / n) / n
    fstat = dx * dx / (vx * (1.0 / n1 + 1.0 / n0))
    return two.filter((dx != 0) & (vx > 0)).select(
        n.cast("bigint").alias("n_rows"),
        n1.cast("bigint").alias("n_instrumented"),
        F.round(dx, 6).alias("first_stage_dx"),
        F.round(fstat, 4).alias("first_stage_f"),
        F.when(fstat < 10.0, 1).otherwise(0).alias("weak_instrument"),
        F.round(dy / dx, 6).alias("wald_beta"),
        F.round(cxy / vx, 6).alias("ols_beta"),
    )


# -- q_lognormal_fit ---------------------------------------------------
#
# Lognormal fit of per-customer total spend by log-moments (mu =
# mean ln y, sigma = sd ln y), with the implied median exp(mu),
# implied mean exp(mu + sigma^2/2), and implied P90 exp(mu +
# 1.2815515655*sigma) checked against the EMPIRICAL mean and P90 —
# the distributional model beside q_gamma_moments / q_weibull_fit /
# q_gumbel_fit that's usually right for spend data (multiplicative
# growth). ln terms are 9-rounded decimal folds (q_survival_km
# precedent); the empirical P90 is Spark's exact `percentile` ==
# DuckDB `quantile_cont` (type-R7, the q_percentiles equivalence) —
# a mergeable aggregate, NOT a global sort. Scale: one orders scan
# to per-customer sums, then two 1-row folds.

LOGNORM_SQL = """
WITH per AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS y
  FROM orders GROUP BY o_custkey
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS DOUBLE) AS s,
         CAST(SUM(CAST(round(ln(CAST(y AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS sl,
         CAST(SUM(CAST(round(ln(CAST(y AS DOUBLE))
                             * ln(CAST(y AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS sll
  FROM per WHERE y > 0
), p90 AS (
  SELECT quantile_cont(CAST(y AS DOUBLE), 0.9) AS emp_p90
  FROM per WHERE y > 0
), fit AS (
  SELECT n, s / n AS emp_mean, sl / n AS mu,
         sqrt((sll - sl * sl / n) / (n - 1)) AS sigma
  FROM agg WHERE n > 2 AND sll - sl * sl / n > 0
)
SELECT n AS n_customers,
       round(mu, 6) AS mu,
       round(sigma, 6) AS sigma,
       round(exp(mu), 2) AS implied_median,
       round(exp(mu + sigma * sigma / 2.0), 2) AS implied_mean,
       round(emp_mean, 2) AS empirical_mean,
       round(exp(mu + sigma * sigma / 2.0) / emp_mean, 6) AS mean_ratio,
       round(exp(mu + 1.2815515655 * sigma), 2) AS implied_p90,
       round(emp_p90, 2) AS empirical_p90,
       round(exp(mu + 1.2815515655 * sigma) / emp_p90, 6) AS p90_ratio
FROM fit CROSS JOIN p90
"""


@query("q_lognormal_fit", oracle=LOGNORM_SQL)
def q_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("y")
        )
        .filter(F.col("y") > 0)
        .select("y")
    )
    per = per.cache()  # per-customer sums feed the moment fold AND the rank
    ln_y = F.log(F.col("y").cast("double"))
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("double").alias("s"),
        F.sum(F.round(ln_y, 9).cast("decimal(28,9)")).cast("double").alias(
            "sl"
        ),
        F.sum(F.round(ln_y * ln_y, 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sll"),
    )
    n, s, sl, sll = F.col("n"), F.col("s"), F.col("sl"), F.col("sll")
    fit = agg.filter((n > 2) & (sll - sl * sl / n > 0)).select(
        "n",
        (s / n).alias("emp_mean"),
        (sl / n).alias("mu"),
        F.sqrt((sll - sl * sl / n) / (n - 1)).alias("sigma"),
    )
    p90 = per.agg(
        F.percentile(F.col("y").cast("double"), 0.9).alias("emp_p90")
    )
    mu, sigma = F.col("mu"), F.col("sigma")
    implied_mean = F.exp(mu + sigma * sigma / 2.0)
    implied_p90 = F.exp(mu + 1.2815515655 * sigma)
    return fit.crossJoin(F.broadcast(p90)).select(
        n.alias("n_customers"),
        F.round(mu, 6).alias("mu"),
        F.round(sigma, 6).alias("sigma"),
        F.round(F.exp(mu), 2).alias("implied_median"),
        F.round(implied_mean, 2).alias("implied_mean"),
        F.round("emp_mean", 2).alias("empirical_mean"),
        F.round(implied_mean / F.col("emp_mean"), 6).alias("mean_ratio"),
        F.round(implied_p90, 2).alias("implied_p90"),
        F.round("emp_p90", 2).alias("empirical_p90"),
        F.round(implied_p90 / F.col("emp_p90"), 6).alias("p90_ratio"),
    )


# -- q_bradley_terry ---------------------------------------------------
#
# Bradley-Terry preference strengths over brands from within-order
# "contests" (in each order, the brand with the larger line-revenue
# sum beats each smaller one; ties skipped): the pairwise-comparison
# model behind ranking-from-preferences pipelines (RLHF reward
# heads, match-making) — two unrolled MM rounds (Hunter 2004) from
# the uniform start, p_i <- W_i / sum_j n_ij/(p_i+p_j), sum-
# normalized and 9-rounded between rounds so both engines iterate on
# identical doubles. Scale: the per-order brand roll-up rides the
# natural orderkey shuffle; the pair self-join is per-order (<=
# brands-per-order squared rows); everything after lives on the
# <=625-cell pair grid and the 25-row strength vector.

BT_SQL = """
WITH ob AS MATERIALIZED (
  SELECT l_orderkey AS ok, p_brand AS b,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2))
           AS spend
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), duels AS MATERIALIZED (
  SELECT CASE WHEN a.spend > b.spend THEN a.b ELSE b.b END AS winner,
         CASE WHEN a.spend > b.spend THEN b.b ELSE a.b END AS loser,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM ob a JOIN ob b ON a.ok = b.ok AND a.b < b.b
  WHERE a.spend <> b.spend
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT i, j, CAST(SUM(n) AS BIGINT) AS n_ij FROM (
    SELECT winner AS i, loser AS j, w AS n FROM duels
    UNION ALL
    SELECT loser, winner, w FROM duels
  ) GROUP BY 1, 2
), wins AS MATERIALIZED (
  SELECT winner AS b, CAST(SUM(w) AS BIGINT) AS wi FROM duels GROUP BY 1
), brands AS MATERIALIZED (
  SELECT i AS b FROM pairs GROUP BY 1
), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM brands),
p0 AS MATERIALIZED (
  SELECT b, 1.0 / (SELECT m FROM m) AS p FROM brands
), d1 AS (
  SELECT pr.i AS b,
         CAST(SUM(CAST(round(pr.n_ij / (pi.p + pj.p), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS dnm
  FROM pairs pr JOIN p0 pi ON pi.b = pr.i JOIN p0 pj ON pj.b = pr.j
  GROUP BY 1
), r1 AS (
  SELECT d1.b, COALESCE(w.wi, 0) / dnm AS praw
  FROM d1 LEFT JOIN wins w ON w.b = d1.b
), p1 AS MATERIALIZED (
  SELECT b, round(praw / (SELECT CAST(SUM(CAST(round(praw, 9)
                   AS DECIMAL(28,9))) AS DOUBLE) FROM r1), 9) AS p
  FROM r1
), d2 AS (
  SELECT pr.i AS b,
         CAST(SUM(CAST(round(pr.n_ij / (pi.p + pj.p), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS dnm
  FROM pairs pr JOIN p1 pi ON pi.b = pr.i JOIN p1 pj ON pj.b = pr.j
  GROUP BY 1
), r2 AS (
  SELECT d2.b, COALESCE(w.wi, 0) / dnm AS praw
  FROM d2 LEFT JOIN wins w ON w.b = d2.b
), p2 AS (
  SELECT b, round(praw / (SELECT CAST(SUM(CAST(round(praw, 9)
                   AS DECIMAL(28,9))) AS DOUBLE) FROM r2), 9) AS p
  FROM r2
)
SELECT p2.b AS p_brand,
       COALESCE(w.wi, 0) AS wins,
       CAST((SELECT SUM(n_ij) FROM pairs WHERE i = p2.b) AS BIGINT)
         AS contests,
       round(p2.p, 6) AS strength,
       CAST(ROW_NUMBER() OVER (ORDER BY p2.p DESC, p2.b) AS BIGINT) AS rank
FROM p2 LEFT JOIN wins w ON w.b = p2.b
ORDER BY rank
"""


@query("q_bradley_terry", oracle=BT_SQL)
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    # In-row duel generation, ONE shuffle (r11): the first cut ran
    # groupBy(ok, b) for per-brand spends and a second groupBy(ok) to
    # collect them (two exchanges of data-sized rows, A/B 3.40 ->
    # 3.18 s). The (ok, b) roll-up is itself in-row computable: one
    # groupBy(ok) collects the order's (b, price) lines (bounded by
    # lines-per-order), and per-brand spend folds inside the row with
    # aggregate() over the brand's lines. Decimal sums are exact and
    # associative — acc carries decimal(38,2) headroom and the final
    # cast to decimal(19,2) matches the old sum's cast, so every
    # spend (and thus every duel) is bit-identical. A/B below.
    lines = (
        cat.lineitem.select("l_orderkey", "l_partkey", "l_extendedprice")
        .join(
            F.broadcast(cat.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("p_brand").alias("b"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        )
    )
    g = (
        lines.groupBy("ok")
        .agg(F.collect_list(F.struct("b", "p")).alias("ls"))
        .select(
            "ok",
            F.expr(
                """
                transform(
                  array_distinct(transform(ls, x -> x.b)),
                  bb -> struct(
                    bb AS b,
                    cast(aggregate(
                      filter(ls, x -> x.b = bb),
                      cast(0 as decimal(38,2)),
                      -- coalesce: F.sum skipped NULL prices; the fold
                      -- must too, not poison the whole spend (ADVICE
                      -- r11 — TPC-H prices are NOT NULL, but the
                      -- equivalence should not depend on that)
                      (acc, x) -> cast(acc + coalesce(x.p, 0)
                                       as decimal(38,2))
                    ) as decimal(19,2)) AS spend))
                """
            ).alias("br"),
        )
    )
    pair_expr = """
    filter(
      flatten(
        transform(br, (x, i) ->
          transform(slice(br, i + 2, size(br)), y ->
            if(x.spend = y.spend,
               cast(null as struct<winner:string, loser:string>),
               if(x.spend > y.spend,
                  named_struct('winner', x.b, 'loser', y.b),
                  named_struct('winner', y.b, 'loser', x.b)))))),
      p -> p is not null)
    """
    duels = (
        g.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.winner", "p.loser")
        .groupBy("winner", "loser")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    duels = duels.localCheckpoint()  # <=625 rows; feeds pairs/wins/iterations
    pairs = (
        duels.select(
            F.col("winner").alias("i"), F.col("loser").alias("j"),
            F.col("w").alias("n"),
        )
        .unionAll(
            duels.select(
                F.col("loser").alias("i"), F.col("winner").alias("j"),
                F.col("w").alias("n"),
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("n").cast("bigint").alias("n_ij"))
    )
    pairs = pairs.localCheckpoint()
    wins = duels.groupBy(F.col("winner").alias("b")).agg(
        F.sum("w").cast("bigint").alias("wi")
    )
    brands = pairs.select(F.col("i").alias("b")).distinct()
    mrow = brands.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    p = brands.crossJoin(F.broadcast(mrow)).select(
        "b", (1.0 / F.col("m")).alias("p")
    )

    def mm_round(pvec: DataFrame) -> DataFrame:
        pi = pvec.select(F.col("b").alias("i"), F.col("p").alias("p_i"))
        pj = pvec.select(F.col("b").alias("j"), F.col("p").alias("p_j"))
        d = (
            pairs.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            .groupBy(F.col("i").alias("b"))
            .agg(
                F.sum(
                    F.round(
                        F.col("n_ij") / (F.col("p_i") + F.col("p_j")), 9
                    ).cast("decimal(28,9)")
                )
                .cast("double")
                .alias("dnm")
            )
        )
        r = d.join(F.broadcast(wins), "b", "left").select(
            "b",
            (
                F.coalesce(F.col("wi"), F.lit(0)).cast("double")
                / F.col("dnm")
            ).alias("praw"),
        )
        r = r.localCheckpoint()  # 25 rows; truncates per-round lineage
        tot = r.agg(
            F.sum(F.round("praw", 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("tot")
        )
        return r.crossJoin(F.broadcast(tot)).select(
            "b", F.round(F.col("praw") / F.col("tot"), 9).alias("p")
        )

    for _ in range(2):
        p = mm_round(p)
    contests = pairs.groupBy(F.col("i").alias("b")).agg(
        F.sum("n_ij").cast("bigint").alias("contests")
    )
    out = (
        p.join(F.broadcast(wins), "b", "left")
        .join(F.broadcast(contests), "b")
        .select(
            F.col("b").alias("p_brand"),
            F.coalesce(F.col("wi"), F.lit(0)).cast("bigint").alias("wins"),
            "contests",
            F.round("p", 6).alias("strength"),
        )
    )
    w = Window.orderBy(F.desc("p"), "b")
    ranked = (
        p.select("b", F.row_number().over(w).cast("bigint").alias("rank"))
    )
    return (
        out.join(
            F.broadcast(ranked), F.col("p_brand") == F.col("b")
        )
        .select("p_brand", "wins", "contests", "strength", "rank")
        .orderBy("rank")
    )


# -- q_ucb_policy ------------------------------------------------------
#
# UCB1 bandit policy table over event-type "arms" (Auer 2002):
# mean reward + sqrt(2 ln N / n_a) per arm from the historical log,
# the arm the policy would pull next, and each arm's pull share so
# far — the deterministic exploration-bonus counterpart of
# q_ips_policy_eval's counterfactual scoring (IPS evaluates a fixed
# policy; UCB1 says what an online learner would do next). Means
# are exact decimal sums over one events scan; the bonus chain is
# identical doubles. Scale: one scan to the |arms| grid + broadcast
# 1-row total.

UCB_SQL = """
WITH arm AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS s
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS n FROM arm
), scored AS (
  SELECT event_type, n_a,
         round(CAST(s AS DOUBLE) / n_a, 6) AS mean_reward,
         round(sqrt(2.0 * ln(CAST((SELECT n FROM tot) AS DOUBLE)) / n_a), 6)
           AS bonus
  FROM arm
)
SELECT event_type, n_a AS pulls,
       round(CAST(n_a AS DOUBLE) / (SELECT n FROM tot), 6) AS pull_share,
       mean_reward, bonus,
       round(mean_reward + bonus, 6) AS ucb,
       CASE WHEN ROW_NUMBER() OVER (ORDER BY mean_reward + bonus DESC,
                                    event_type) = 1
            THEN 1 ELSE 0 END AS pull_next
FROM scored
ORDER BY ucb DESC, event_type
"""


@query("q_ucb_policy", oracle=UCB_SQL)
def q_ucb_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = Catalog(spark, sf_dir).events
    arm = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum(F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("s"),
    )
    tot = arm.agg(F.sum("n_a").cast("bigint").alias("n"))
    scored = arm.crossJoin(F.broadcast(tot)).select(
        "event_type", "n_a", "n",
        F.round(F.col("s").cast("double") / F.col("n_a"), 6).alias(
            "mean_reward"
        ),
        F.round(
            F.sqrt(2.0 * F.log(F.col("n").cast("double")) / F.col("n_a")), 6
        ).alias("bonus"),
    )
    ucb = F.round(F.col("mean_reward") + F.col("bonus"), 6)
    w = Window.orderBy(
        F.desc(F.col("mean_reward") + F.col("bonus")), "event_type"
    )
    return scored.select(
        "event_type",
        F.col("n_a").alias("pulls"),
        F.round(F.col("n_a").cast("double") / F.col("n"), 6).alias(
            "pull_share"
        ),
        "mean_reward", "bonus",
        ucb.alias("ucb"),
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias(
            "pull_next"
        ),
    ).orderBy(F.desc("ucb"), "event_type")


# -- q_taylor_law ------------------------------------------------------
#
# Taylor's power law (fluctuation scaling) across brands: regress
# ln(variance) on ln(mean) of daily brand revenue over the 25-brand
# ensemble — slope b near 1 means Poisson-like (independent) demand,
# near 2 means synchronized/bursty demand; the aggregation-design
# diagnostic (how variance grows when you roll small units into big
# ones) that q_overdispersion answers for counts and this answers
# for revenue. Per-brand mean/variance from exact decimal moments
# with IMPLICIT zero-fill (sums over present days divided by the
# global day count — 0-revenue days contribute 0 to both s and ss,
# so no grid join is needed, unlike q_market_beta's cross moments);
# the ln-ln fit folds 9-rounded decimals over 25 points. Scale: one
# fact scan to the brand-day grid, then constant-size algebra.

TAYLOR_SQL = """
WITH bd AS (
  SELECT p_brand, CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2))
           AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), days AS (
  SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS nd FROM bd
), m AS (
  SELECT p_brand,
         CAST(SUM(rev) AS DOUBLE) AS s,
         CAST(SUM(rev * rev) AS DOUBLE) AS ss,
         (SELECT nd FROM days) AS nd
  FROM bd GROUP BY 1
), mv AS (
  SELECT p_brand,
         round(ln(s / nd), 9) AS lx,
         round(ln((ss - s * s / nd) / (nd - 1)), 9) AS ly
  FROM m WHERE nd > 1 AND s > 0 AND ss - s * s / nd > 0
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(lx AS DECIMAL(18,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ly AS DECIMAL(18,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(lx * ly, 9) AS DECIMAL(28,9))) AS DOUBLE)
           AS sxy,
         CAST(SUM(CAST(round(lx * lx, 9) AS DECIMAL(28,9))) AS DOUBLE)
           AS sxx
  FROM mv
)
SELECT k AS n_brands,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS taylor_b,
       round(exp((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k),
             6) AS taylor_a,
       CASE WHEN (k * sxy - sx * sy) / (k * sxx - sx * sx) > 1.5
            THEN 1 ELSE 0 END AS synchronized
FROM fit WHERE k > 2 AND k * sxx - sx * sx <> 0
"""


@query("q_taylor_law", oracle=TAYLOR_SQL)
def q_taylor_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    bd = (
        # spread(): the partial agg to the brand x day grid runs in the
        # single-task scan stage (r11, guide §2.5; A/B in OPTIMIZATION_r11.md)
        spread(cat.lineitem.select(
            "l_partkey", "l_shipdate", "l_extendedprice"
        ))
        .join(
            F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
        )
        .groupBy("p_brand", F.to_date("l_shipdate").alias("d"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(19,2)")
            .alias("rev")
        )
    )
    bd = bd.cache()  # brand-day grid feeds the day count AND the moments
    days = bd.agg(F.countDistinct("d").cast("bigint").alias("nd"))
    m = (
        bd.groupBy("p_brand")
        .agg(
            F.sum("rev").cast("double").alias("s"),
            F.sum(F.col("rev") * F.col("rev")).cast("double").alias("ss"),
        )
        .crossJoin(F.broadcast(days))
    )
    s, ss, nd = F.col("s"), F.col("ss"), F.col("nd")
    var = (ss - s * s / nd) / (nd - 1)
    mv = m.filter((nd > 1) & (s > 0) & (var * (nd - 1) > 0)).select(
        F.round(F.log(s / nd), 9).alias("lx"),
        F.round(F.log(var), 9).alias("ly"),
    )
    fit = mv.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("lx").cast("decimal(18,9)")).cast("double").alias("sx"),
        F.sum(F.col("ly").cast("decimal(18,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("lx") * F.col("ly"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("lx") * F.col("lx"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sxx"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.filter(
        (k > 2) & (k * F.col("sxx") - F.col("sx") * F.col("sx") != 0)
    ).select(
        k.alias("n_brands"),
        F.round(slope, 6).alias("taylor_b"),
        F.round(F.exp((F.col("sy") - slope * F.col("sx")) / k), 6).alias(
            "taylor_a"
        ),
        F.when(slope > 1.5, 1).otherwise(0).alias("synchronized"),
    )


# -- q_records ---------------------------------------------------------
#
# Record-breaking days: how many days set a new all-time daily
# revenue high, when the last record fell, and the count compared
# against the i.i.d. expectation H_n ≈ ln n + γ (record theory: for
# exchangeable series the k-th prefix is a record with probability
# 1/k) — a drift detector with zero tuned parameters: far more
# records than H_n means a trending series (q_trend_test's
# Mann-Kendall asks the same with ranks; records ask it with maxima,
# q_peak_detection finds local peaks, not records). One ordered
# day-grid window computes the running max; the expectation chain is
# one identical double expression. Scale: facts collapse to the
# bounded day grid; the window runs on that grid.

RECORDS_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM orders GROUP BY 1
), runs AS (
  SELECT d, rev,
         CASE WHEN rev > COALESCE(MAX(rev) OVER
                (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), CAST(-1 AS DECIMAL(19,2)))
              THEN 1 ELSE 0 END AS is_record
  FROM daily
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(is_record) AS BIGINT) AS n_records,
       CAST(MAX(CASE WHEN is_record = 1 THEN d END) AS VARCHAR)
         AS last_record_day,
       round(ln(CAST(COUNT(*) AS DOUBLE)) + 0.5772156649015329, 6)
         AS expected_records,
       round(CAST(SUM(is_record) AS DOUBLE)
             / (ln(CAST(COUNT(*) AS DOUBLE)) + 0.5772156649015329), 6)
         AS record_ratio,
       CASE WHEN CAST(SUM(is_record) AS DOUBLE)
                 / (ln(CAST(COUNT(*) AS DOUBLE)) + 0.5772156649015329) > 2.0
            THEN 1 ELSE 0 END AS trending
FROM runs
"""


@query("q_records", oracle=RECORDS_SQL)
def q_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(19,2)")
        .alias("rev")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    runs = daily.select(
        "d", "rev",
        F.when(
            F.col("rev")
            > F.coalesce(
                F.max("rev").over(w), F.lit(-1).cast("decimal(19,2)")
            ),
            1,
        )
        .otherwise(0)
        .alias("is_record"),
    )
    n_d = F.count(F.lit(1)).cast("double")
    harm = F.log(n_d) + 0.5772156649015329
    rec = F.sum("is_record").cast("double")
    return runs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("is_record").cast("bigint").alias("n_records"),
        F.max(F.when(F.col("is_record") == 1, F.col("d")))
        .cast("string")
        .alias("last_record_day"),
        F.round(harm, 6).alias("expected_records"),
        F.round(rec / harm, 6).alias("record_ratio"),
        F.when(rec / harm > 2.0, 1).otherwise(0).alias("trending"),
    )


# -- q_hawkes_branching ------------------------------------------------
#
# Self-excitation (Hawkes branching-ratio) estimate of the event
# stream: count ordered same-user event pairs within a 1-hour
# trigger window and compare against the homogeneous-Poisson
# expectation sum_u n_u(n_u-1)*delta/T_u — excess pairs mean events
# TRIGGER follow-on events (sessions, cascades), the point-process
# question q_purchase_intervals (marginal spacing stats) and
# q_sessionize (hard gap cutoff) don't answer. Timestamps are exact
# epoch-microsecond bigints (house convention); the pair count is an
# exact integer from a per-user range self-join (bounded window =
# bounded fan-out); the expectation folds 6-rounded decimals over
# the per-user grid. Scale: both passes ride the natural user_id
# shuffle; nothing global but the 1-row fold.

HAWKES_DELTA_US = 3_600_000_000

HAWKES_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), per AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_u,
         CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us
  FROM ev GROUP BY 1
), pairs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM ev a JOIN ev b
    ON b.user_id = a.user_id
   AND b.us > a.us AND b.us - a.us <= {HAWKES_DELTA_US}
), expect AS (
  SELECT CAST(SUM(CAST(round(
           n_u * (n_u - 1.0) * {HAWKES_DELTA_US} / span_us, 6)
           AS DECIMAL(28,6))) AS DOUBLE) AS e_pairs,
         CAST(SUM(n_u) AS BIGINT) AS n_events
  FROM per WHERE n_u > 1 AND span_us > 0
)
SELECT n_events,
       n_pairs AS pairs_1h,
       round(e_pairs, 2) AS expected_pairs,
       round(n_pairs / e_pairs, 6) AS excess_ratio,
       CASE WHEN n_pairs / e_pairs > 1.2 THEN 1 ELSE 0 END
         AS self_exciting
FROM pairs CROSS JOIN expect WHERE e_pairs > 0
"""


@query("q_hawkes_branching", oracle=HAWKES_SQL)
def q_hawkes_branching(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    ev = e.select("user_id", F.unix_micros("ts").alias("us"))
    ev = ev.cache()  # feeds the per-user grid AND both pair-join sides
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_u"),
        (F.max("us") - F.min("us")).cast("bigint").alias("span_us"),
    )
    a = ev.select(F.col("user_id"), F.col("us").alias("a_us"))
    b = ev.select(F.col("user_id"), F.col("us").alias("b_us"))
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("b_us") > F.col("a_us"))
            & (F.col("b_us") - F.col("a_us") <= HAWKES_DELTA_US)
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    n_u, span = F.col("n_u"), F.col("span_us")
    expect = per.filter((n_u > 1) & (span > 0)).agg(
        F.sum(
            F.round(
                n_u * (n_u - 1.0) * HAWKES_DELTA_US / span, 6
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("e_pairs"),
        F.sum(n_u).cast("bigint").alias("n_events"),
    )
    ratio = F.col("n_pairs") / F.col("e_pairs")
    return (
        pairs.crossJoin(F.broadcast(expect))
        .filter(F.col("e_pairs") > 0)
        .select(
            "n_events",
            F.col("n_pairs").alias("pairs_1h"),
            F.round("e_pairs", 2).alias("expected_pairs"),
            F.round(ratio, 6).alias("excess_ratio"),
            F.when(ratio > 1.2, 1).otherwise(0).alias("self_exciting"),
        )
    )


# -- q_interevent_burstiness -------------------------------------------
#
# Goh-Barabasi burstiness B = (sigma-mu)/(sigma+mu) and memory
# M = corr(tau_i, tau_i+1) of inter-event times per event type — the
# two-coordinate map separating bursty-and-correlated (cascades),
# bursty-uncorrelated (heavy-tailed arrivals) and regular streams;
# the per-type refinement of q_hawkes_branching's single global
# number (txt_burstiness does the document-frequency analog for
# words). Intervals are exact epoch-us bigints from ONE per-user
# window; moments and the lag-pair correlation fold 6-rounded
# decimal seconds. Scale: window rides the user_id shuffle; the
# rest is |event types| rows.

BURSTY_SQL = """
WITH iv AS (
  SELECT event_type,
         CAST((LEAD(epoch_us(ts)) OVER w - epoch_us(ts)) AS BIGINT) AS gap_us,
         CAST((LEAD(epoch_us(ts), 2) OVER w
               - LEAD(epoch_us(ts)) OVER w) AS BIGINT) AS next_gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), tau AS (
  SELECT event_type,
         round(gap_us / 1000000.0, 6) AS t,
         round(next_gap_us / 1000000.0, 6) AS t2
  FROM iv WHERE gap_us IS NOT NULL
), mom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(round(t * t, 4) AS DECIMAL(38,4))) AS DOUBLE) AS ss
  FROM tau GROUP BY 1
), lagm AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(t2 AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(t * t2, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(t * t, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(t2 * t2, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy
  FROM tau WHERE t2 IS NOT NULL GROUP BY 1
)
SELECT m.event_type,
       m.n AS n_intervals,
       round(m.s / m.n, 2) AS mean_gap_s,
       round(sqrt((m.ss - m.s * m.s / m.n) / m.n), 2) AS sd_gap_s,
       round((sqrt((m.ss - m.s * m.s / m.n) / m.n) - m.s / m.n)
             / (sqrt((m.ss - m.s * m.s / m.n) / m.n) + m.s / m.n), 6)
         AS burstiness,
       CASE WHEN (l.np * l.sxx - l.sx * l.sx)
                 * (l.np * l.syy - l.sy * l.sy) > 0 THEN
         round((l.np * l.sxy - l.sx * l.sy)
               / sqrt((l.np * l.sxx - l.sx * l.sx)
                      * (l.np * l.syy - l.sy * l.sy)), 6)
       END AS memory_coef
FROM mom m JOIN lagm l ON l.event_type = m.event_type
WHERE m.n > 1 AND m.ss - m.s * m.s / m.n > 0
  AND sqrt((m.ss - m.s * m.s / m.n) / m.n) + m.s / m.n > 0
ORDER BY m.event_type
"""


@query("q_interevent_burstiness", oracle=BURSTY_SQL)
def q_interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    iv = e.select(
        "event_type",
        (F.lead(us).over(w) - us).cast("bigint").alias("gap_us"),
        (F.lead(us, 2).over(w) - F.lead(us).over(w))
        .cast("bigint")
        .alias("next_gap_us"),
    )
    tau = iv.filter(F.col("gap_us").isNotNull()).select(
        "event_type",
        F.round(F.col("gap_us") / 1000000.0, 6).alias("t"),
        F.round(F.col("next_gap_us") / 1000000.0, 6).alias("t2"),
    )
    tau = tau.cache()  # feeds the marginal moments AND the lag-pair moments
    mom = tau.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("t").cast("decimal(28,6)")).cast("double").alias("s"),
        F.sum(F.round(F.col("t") * F.col("t"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("ss"),
    )
    lagm = tau.filter(F.col("t2").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum(F.col("t").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.col("t2").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("t") * F.col("t2"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("t") * F.col("t"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("t2") * F.col("t2"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    sd = F.sqrt((ss - s * s / n) / n)
    mu = s / n
    np_, sx, sy = F.col("np"), F.col("sx"), F.col("sy")
    vx = np_ * F.col("sxx") - sx * sx
    vy = np_ * F.col("syy") - sy * sy
    return (
        mom.join(lagm, "event_type")
        .filter((n > 1) & (ss - s * s / n > 0) & (sd + mu > 0))
        .select(
            "event_type",
            n.alias("n_intervals"),
            F.round(mu, 2).alias("mean_gap_s"),
            F.round(sd, 2).alias("sd_gap_s"),
            F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
            F.when(
                vx * vy > 0,
                F.round(
                    (np_ * F.col("sxy") - sx * sy) / F.sqrt(vx * vy), 6
                ),
            ).alias("memory_coef"),
        )
        .orderBy("event_type")
    )


# -- q_conformal_interval ----------------------------------------------
#
# Split-conformal prediction interval for the daily-revenue trend
# model (Vovk's conformal guarantee, distribution-free): fit the
# linear trend on the FIT third, take the ceil((n+1)*0.9)-th
# smallest absolute residual on the CALIBRATION third as the
# interval half-width, and report EMPIRICAL coverage on the TEST
# third — the finite-sample-valid uncertainty band that
# q_forecast_linear (point) and q_bootstrap_ci (resampling,
# asymptotic) don't give. The conformal quantile is an exact order
# statistic on the bounded calibration day grid; the fit is exact
# decimal moments; coverage is an integer ratio. Scale: facts
# collapse to the day grid; every window runs on that grid only.

CONF_FIT_END = "1994-07-01"
CONF_CAL_END = "1996-01-01"

CONFORMAL_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
  FROM orders GROUP BY 1, 2
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fit,
         round(CAST(COUNT(*) * SUM(x * rev) - SUM(x) * SUM(rev) AS DOUBLE)
               / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE), 9)
           AS beta,
         round((CAST(SUM(rev) AS DOUBLE)
                - CAST(COUNT(*) * SUM(x * rev) - SUM(x) * SUM(rev) AS DOUBLE)
                  / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
                  * CAST(SUM(x) AS DOUBLE)) / COUNT(*), 6) AS alpha
  FROM daily WHERE d < DATE '{CONF_FIT_END}'
), cal AS (
  SELECT abs(CAST(rev AS DOUBLE)
             - (SELECT alpha FROM fit) - (SELECT beta FROM fit) * x) AS r
  FROM daily
  WHERE d >= DATE '{CONF_FIT_END}' AND d < DATE '{CONF_CAL_END}'
), q AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal
), width AS (
  SELECT r AS w
  FROM (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rk FROM cal)
  WHERE rk = LEAST((SELECT n_cal FROM q),
                   CAST(ceil(0.9 * ((SELECT n_cal FROM q) + 1)) AS BIGINT))
), test AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN abs(CAST(rev AS DOUBLE)
                       - (SELECT alpha FROM fit)
                       - (SELECT beta FROM fit) * x)
                       <= (SELECT w FROM width)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM daily WHERE d >= DATE '{CONF_CAL_END}'
)
SELECT f.n_fit, q.n_cal, t.n_test,
       round(f.beta, 6) AS slope,
       round((SELECT w FROM width), 2) AS interval_halfwidth,
       round(CAST(t.n_covered AS DOUBLE) / t.n_test, 6) AS coverage,
       CASE WHEN CAST(t.n_covered AS DOUBLE) / t.n_test >= 0.85
            THEN 1 ELSE 0 END AS coverage_ok
FROM fit f CROSS JOIN q CROSS JOIN test t
WHERE q.n_cal > 0 AND t.n_test > 0
"""


@query("q_conformal_interval", oracle=CONFORMAL_SQL)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")).alias("x"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(19,2)")
        .alias("rev")
    )
    daily = daily.cache()  # day grid feeds fit, calibration AND test passes
    ft = daily.filter(F.col("d") < CONF_FIT_END)
    n = F.count(F.lit(1))
    sx = F.sum("x")
    sxx = F.sum(F.col("x") * F.col("x"))
    srev = F.sum("rev")
    sxr = F.sum(F.col("x") * F.col("rev"))
    cov_n = (n * sxr - sx * srev).cast("double")
    vx_n = (n * sxx - sx * sx).cast("double")
    fit = ft.agg(
        n.cast("bigint").alias("n_fit"),
        F.round(cov_n / vx_n, 9).alias("beta"),
        F.round(
            (srev.cast("double") - cov_n / vx_n * sx.cast("double")) / n, 6
        ).alias("alpha"),
    )
    resid = F.abs(
        F.col("rev").cast("double") - F.col("alpha") - F.col("beta") * F.col("x")
    )
    cal = (
        daily.filter((F.col("d") >= CONF_FIT_END) & (F.col("d") < CONF_CAL_END))
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("r"))
    )
    cal = cal.cache()  # bounded calib grid feeds the count AND the rank
    q = cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    ranked = cal.select(
        "r", F.row_number().over(Window.orderBy("r")).alias("rk")
    )
    width = (
        ranked.crossJoin(F.broadcast(q))
        .filter(
            F.col("rk")
            == F.least(
                F.col("n_cal"),
                F.ceil(0.9 * (F.col("n_cal") + 1)).cast("bigint"),
            )
        )
        .select(F.col("r").alias("w"))
    )
    test = (
        daily.filter(F.col("d") >= CONF_CAL_END)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(width))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(resid <= F.col("w"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    coverage = F.col("n_covered").cast("double") / F.col("n_test")
    return (
        fit.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(test))
        .crossJoin(F.broadcast(width))
        .filter((F.col("n_cal") > 0) & (F.col("n_test") > 0))
        .select(
            "n_fit", "n_cal", "n_test",
            F.round("beta", 6).alias("slope"),
            F.round("w", 2).alias("interval_halfwidth"),
            F.round(coverage, 6).alias("coverage"),
            F.when(coverage >= 0.85, 1).otherwise(0).alias("coverage_ok"),
        )
    )


# -- q_kendall_w -------------------------------------------------------
#
# Kendall's coefficient of concordance W among three deterministic
# brand rankings (total revenue, total quantity, distinct buyers):
# do the three business lenses agree on the brand order? — the
# m-judges generalization of q_kendall_tau (pairwise) and the
# ranking twin of q_fleiss_kappa (categorical votes); chi2 =
# m(n-1)W links it to q_friedman_test. Metrics are exact decimal /
# integer sums; ranks are row_number with brand tie-break (cross-
# engine stable); S folds exact quarter-integers as DECIMAL(28,2).
# Scale: one lineitem+orders pass to the 25-brand grid (broadcast
# part dim); the ranking windows run on 25 rows.

KENDALL_W_SQL = """
WITH b AS (
  SELECT p_brand,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS rev,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS qty,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS buyers
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  GROUP BY 1
), rk AS (
  SELECT p_brand,
         ROW_NUMBER() OVER (ORDER BY rev DESC, p_brand) AS r1,
         ROW_NUMBER() OVER (ORDER BY qty DESC, p_brand) AS r2,
         ROW_NUMBER() OVER (ORDER BY buyers DESC, p_brand) AS r3
  FROM b
), devs AS (
  SELECT r1 + r2 + r3 AS rsum, COUNT(*) OVER () AS nn FROM rk
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST((rsum - 3.0 * (nn + 1) / 2.0)
                       * (rsum - 3.0 * (nn + 1) / 2.0)
                  AS DECIMAL(28,2))) AS DOUBLE) AS ssq
  FROM devs
)
SELECT n AS n_brands, CAST(3 AS BIGINT) AS n_judges,
       round(12.0 * ssq / (9.0 * (n * n * n - n)), 6) AS kendall_w,
       round(3.0 * (n - 1) * 12.0 * ssq / (9.0 * (n * n * n - n)), 4)
         AS chi2_approx,
       CASE WHEN 12.0 * ssq / (9.0 * (n * n * n - n)) > 0.5
            THEN 1 ELSE 0 END AS concordant
FROM s WHERE n > 1
"""


@query("q_kendall_w", oracle=KENDALL_W_SQL)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    b = (
        # spread(): countDistinct + decimal folds partial-aggregate in
        # the single-task scan stage (r11; A/B in OPTIMIZATION_r11.md)
        spread(cat.lineitem.select(
            "l_partkey", "l_orderkey", "l_extendedprice", "l_quantity"
        ))
        .join(
            F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(cat.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("qty"),
            F.countDistinct("o_custkey").cast("bigint").alias("buyers"),
        )
    )
    rk = b.select(
        "p_brand",
        F.row_number().over(Window.orderBy(F.desc("rev"), "p_brand")).alias(
            "r1"
        ),
        F.row_number().over(Window.orderBy(F.desc("qty"), "p_brand")).alias(
            "r2"
        ),
        F.row_number()
        .over(Window.orderBy(F.desc("buyers"), "p_brand"))
        .alias("r3"),
    )
    nw = F.count(F.lit(1)).over(Window.partitionBy())
    dev = F.col("r1") + F.col("r2") + F.col("r3") - 3.0 * (nw + 1) / 2.0
    s = rk.select((dev * dev).cast("decimal(28,2)").alias("d2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d2").cast("double").alias("ssq"),
    )
    n = F.col("n")
    w = 12.0 * F.col("ssq") / (9.0 * (n * n * n - n))
    return s.filter(n > 1).select(
        n.alias("n_brands"),
        F.lit(3).cast("bigint").alias("n_judges"),
        F.round(w, 6).alias("kendall_w"),
        F.round(3.0 * (n - 1) * w, 4).alias("chi2_approx"),
        F.when(w > 0.5, 1).otherwise(0).alias("concordant"),
    )


# -- q_ordinal_association ---------------------------------------------
#
# Ordinal association of discount level vs quantity from the bounded
# contingency grid: Goodman-Kruskal gamma, Kendall tau-b, and
# Somers' D_yx — the three standard concordance measures, all from
# ONE 11x50-cell grid (concordant/discordant/tied pair counts are
# grid-pair sums, never row pairs: the n^2 pair space collapses to
# |cells|^2 = ~300k products of exact integers). q_kendall_tau ranks
# continuous pairs; this is the tied-heavy categorical form a
# scorecard pipeline needs (discount levels and integer quantities
# tie constantly, which is exactly what tau-b/Somers correct for).
# Pair counts fold as DECIMAL(38,0) (they reach n^2/2). Scale: one
# fact scan to the grid; the grid self-join is constant-size.

ORDINAL_SQL = """
WITH g AS (
  SELECT CAST(round(CAST(l_discount AS DECIMAL(18,2)) * 100) AS BIGINT) AS x,
         CAST(round(CAST(l_quantity AS DECIMAL(18,2)), 0) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM g
), cd AS (
  SELECT
    CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
             THEN CAST(a.c AS DECIMAL(38,0)) * b.c END) AS DOUBLE) AS conc,
    CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
             THEN CAST(a.c AS DECIMAL(38,0)) * b.c END) AS DOUBLE) AS disc
  FROM g a JOIN g b ON NOT (b.x = a.x AND b.y = a.y)
), ties AS (
  SELECT
    (SELECT CAST(SUM(CAST(cx AS DECIMAL(38,0)) * (cx - 1)) AS DOUBLE) / 2
     FROM (SELECT CAST(SUM(c) AS BIGINT) AS cx FROM g GROUP BY x)) AS tx,
    (SELECT CAST(SUM(CAST(cy AS DECIMAL(38,0)) * (cy - 1)) AS DOUBLE) / 2
     FROM (SELECT CAST(SUM(c) AS BIGINT) AS cy FROM g GROUP BY y)) AS ty
)
SELECT t.n AS n_rows,
       round(cd.conc, 0) AS concordant,
       round(cd.disc, 0) AS discordant,
       round((cd.conc - cd.disc) / (cd.conc + cd.disc), 6) AS gamma,
       round((cd.conc - cd.disc)
             / sqrt((t.n * (t.n - 1.0) / 2.0 - ti.tx)
                    * (t.n * (t.n - 1.0) / 2.0 - ti.ty)), 6) AS tau_b,
       round((cd.conc - cd.disc)
             / (t.n * (t.n - 1.0) / 2.0 - ti.tx), 6) AS somers_dyx
FROM cd CROSS JOIN ties ti CROSS JOIN tot t
WHERE cd.conc + cd.disc > 0
  AND t.n * (t.n - 1.0) / 2.0 - ti.tx > 0
  AND t.n * (t.n - 1.0) / 2.0 - ti.ty > 0
"""


@query("q_ordinal_association", oracle=ORDINAL_SQL)
def q_ordinal_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    g = li.groupBy(
        F.round(F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x"),
        F.round(F.col("l_quantity").cast("decimal(18,2)"), 0)
        .cast("bigint")
        .alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    g = g.localCheckpoint()  # ~550-cell grid feeds 4 independent folds
    tot = g.agg(F.sum("c").cast("bigint").alias("n"))
    a = g.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = g.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    prod = F.col("ac").cast("decimal(38,0)") * F.col("bc")
    cd = (
        a.join(
            F.broadcast(b),
            ~((F.col("bx") == F.col("ax")) & (F.col("by") == F.col("ay"))),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")),
                    prod,
                )
            )
            .cast("double")
            .alias("conc"),
            F.sum(
                F.when(
                    (F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")),
                    prod,
                )
            )
            .cast("double")
            .alias("disc"),
        )
    )
    tx = (
        g.groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("cx"))
        .agg(
            (
                F.sum(
                    F.col("cx").cast("decimal(38,0)") * (F.col("cx") - 1)
                ).cast("double")
                / 2
            ).alias("tx")
        )
    )
    ty = (
        g.groupBy("y")
        .agg(F.sum("c").cast("bigint").alias("cy"))
        .agg(
            (
                F.sum(
                    F.col("cy").cast("decimal(38,0)") * (F.col("cy") - 1)
                ).cast("double")
                / 2
            ).alias("ty")
        )
    )
    n = F.col("n").cast("double")
    pairs = n * (n - 1.0) / 2.0
    num = F.col("conc") - F.col("disc")
    out = (
        cd.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(tot))
    )
    return out.filter(
        (F.col("conc") + F.col("disc") > 0)
        & (pairs - F.col("tx") > 0)
        & (pairs - F.col("ty") > 0)
    ).select(
        F.col("n").alias("n_rows"),
        F.round("conc", 0).alias("concordant"),
        F.round("disc", 0).alias("discordant"),
        F.round(num / (F.col("conc") + F.col("disc")), 6).alias("gamma"),
        F.round(
            num / F.sqrt((pairs - F.col("tx")) * (pairs - F.col("ty"))), 6
        ).alias("tau_b"),
        F.round(num / (pairs - F.col("tx")), 6).alias("somers_dyx"),
    )


# -- q_otsu_threshold --------------------------------------------------
#
# Otsu's threshold (1979) on the order-value histogram: the 32-bin
# fixed-width histogram of o_totalprice, choose the bin boundary
# maximizing between-class variance w0*w1*(mu0-mu1)^2 — the
# image-segmentation classic applied to 1-D business segmentation
# ("where does 'small order' end?"), a principled alternative to
# q_quantile_bins' equal-count cuts and q_decision_stump's
# supervised split. All moments are exact integer counts and bin-
# index sums via one prefix window over the 32-row grid; the argmax
# tie-breaks on the smallest threshold. Scale: one fact scan map-
# side binned to 32 cells; everything after is grid work.

OTSU_BINS = 32
OTSU_WIDTH = 18750.0

OTSU_SQL = f"""
WITH h AS (
  SELECT LEAST(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))
                          / {OTSU_WIDTH}) AS BIGINT), {OTSU_BINS - 1}) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), grid AS (
  SELECT r.range AS b, COALESCE(h.c, 0) AS c
  FROM range(0, {OTSU_BINS}) r LEFT JOIN h ON h.b = r.range
), pre AS (
  SELECT b,
         SUM(c) OVER (ORDER BY b) AS cum_c,
         SUM(b * c) OVER (ORDER BY b) AS cum_bc,
         SUM(c) OVER () AS n,
         SUM(b * c) OVER () AS total_bc
  FROM grid
), scored AS (
  SELECT b AS t,
         CAST(cum_c AS DOUBLE) / n AS w0,
         CASE WHEN cum_c > 0 AND cum_c < n THEN
           round((CAST(cum_c AS DOUBLE) / n) * (1.0 - CAST(cum_c AS DOUBLE) / n)
                 * (CAST(cum_bc AS DOUBLE) / cum_c
                    - CAST(total_bc - cum_bc AS DOUBLE) / (n - cum_c))
                 * (CAST(cum_bc AS DOUBLE) / cum_c
                    - CAST(total_bc - cum_bc AS DOUBLE) / (n - cum_c)), 9)
         END AS between_var
  FROM pre WHERE b < {OTSU_BINS - 1}
), best AS (
  SELECT t, w0, between_var,
         ROW_NUMBER() OVER (ORDER BY between_var DESC, t) AS r
  FROM scored WHERE between_var IS NOT NULL
)
SELECT CAST(t AS BIGINT) AS threshold_bin,
       round((t + 1) * {OTSU_WIDTH}, 2) AS threshold_value,
       round(between_var, 6) AS between_var,
       round(w0, 6) AS share_below
FROM best WHERE r = 1
"""


@query("q_otsu_threshold", oracle=OTSU_SQL)
def q_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = Catalog(spark, sf_dir).orders
    h = o.groupBy(
        F.least(
            F.floor(
                F.col("o_totalprice").cast("decimal(18,2)") / OTSU_WIDTH
            ).cast("bigint"),
            F.lit(OTSU_BINS - 1),
        ).alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    grid = (
        spark.range(0, OTSU_BINS)
        .select(F.col("id").alias("b"))
        .join(F.broadcast(h), "b", "left")
        .select("b", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    wcum = Window.orderBy("b")
    wall = Window.partitionBy()
    pre = grid.select(
        "b",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum(F.col("b") * F.col("c")).over(wcum).alias("cum_bc"),
        F.sum("c").over(wall).alias("n"),
        F.sum(F.col("b") * F.col("c")).over(wall).alias("total_bc"),
    )
    cum_c, n = F.col("cum_c"), F.col("n")
    w0 = cum_c.cast("double") / n
    mu0 = F.col("cum_bc").cast("double") / cum_c
    mu1 = (F.col("total_bc") - F.col("cum_bc")).cast("double") / (n - cum_c)
    scored = pre.filter(F.col("b") < OTSU_BINS - 1).select(
        F.col("b").alias("t"),
        w0.alias("w0"),
        F.when(
            (cum_c > 0) & (cum_c < n),
            F.round(w0 * (1.0 - w0) * (mu0 - mu1) * (mu0 - mu1), 9),
        ).alias("between_var"),
    )
    best = scored.filter(F.col("between_var").isNotNull()).select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("between_var"), "t"))
        .alias("r"),
    )
    return best.filter(F.col("r") == 1).select(
        F.col("t").cast("bigint").alias("threshold_bin"),
        F.round((F.col("t") + 1) * OTSU_WIDTH, 2).alias("threshold_value"),
        F.round("between_var", 6).alias("between_var"),
        F.round("w0", 6).alias("share_below"),
    )
