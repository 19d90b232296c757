"""SURVEY §2 additions (round 6, ninth session) — statistics breadth,
third wave: blocked nonparametric ANOVA (Friedman), confound-
controlled association (partial correlation), regression influence
diagnostics (Cook's distance), and long-memory estimation (Hurst
exponent via rescaled-range analysis).

Shared determinism machinery (see registry docstring): within-block
midranks stay exact integers (2·midrank = 2·RANK + ties − 1), every
cumulative deviation folds exact DECIMALS, and all cross-engine
double folds round per-row terms to DECIMAL first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._normal import erfc_sqrt2
from redmap_spark.inventory.registry import query, spread

# -- q_friedman_test ---------------------------------------------------
#
# Friedman rank test across the 7 ISO weekdays with customers as
# BLOCKS (the repeated-measures sibling of q_kruskal_wallis: each
# complete customer ranks their own 7 day-of-week spends, removing
# between-customer spend level as a confound). Only complete blocks
# (all 7 dows present) enter. 2·midrank = 2·RANK + ties − 1 is exact
# integer per cell (rank window is PARTITIONED by customer — 7 rows
# per partition, fully parallel); rank sums are exact BIGINTs, so
# χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) is one identical double
# expression. df = k−1 = 6 → α=0.05 critical value 12.592.
# Scale: one scan → per-customer 7-row rank windows → 7 rows.

FRIEDMAN_SQL = """
WITH cells AS (
  SELECT o_custkey AS cust, isodow(CAST(o_orderdate AS DATE)) AS dow,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS x
  FROM orders GROUP BY 1, 2
), complete AS (
  SELECT cust FROM cells GROUP BY 1 HAVING COUNT(*) = 7
), ranked AS (
  SELECT c.cust, c.dow,
         2 * RANK() OVER (PARTITION BY c.cust ORDER BY c.x)
           + COUNT(*) OVER (PARTITION BY c.cust, c.x) - 1 AS r2
  FROM cells c JOIN complete k ON k.cust = c.cust
), sums AS (
  SELECT dow, CAST(SUM(r2) AS BIGINT) AS r2sum FROM ranked GROUP BY 1
), nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM complete
), chi AS (
  SELECT CAST(SUM(r2sum * r2sum) AS BIGINT) AS ssq FROM sums
)
SELECT s.dow, b.n AS n_blocks,
       round(s.r2sum / (2.0 * b.n), 6) AS mean_rank,
       round(12.0 / (b.n * 7 * 8) * (c.ssq / 4.0) - 3.0 * b.n * 8,
             6) AS chi2_f,
       CAST(CASE WHEN 12.0 / (b.n * 7 * 8) * (c.ssq / 4.0)
                      - 3.0 * b.n * 8 > 12.592
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM sums s CROSS JOIN nb b CROSS JOIN chi c
ORDER BY s.dow
"""


@query("q_friedman_test", oracle=FRIEDMAN_SQL)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    iso = F.when(F.dayofweek("o_orderdate") == 1, F.lit(7)).otherwise(
        F.dayofweek("o_orderdate") - 1
    )
    cells = o.groupBy(
        F.col("o_custkey").alias("cust"), iso.cast("bigint").alias("dow")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("x")
    )
    cells = cells.cache()  # consumed by complete AND ranked
    complete = cells.groupBy("cust").agg(
        F.count(F.lit(1)).alias("ct")
    ).filter(F.col("ct") == 7).select("cust")
    wr = Window.partitionBy("cust").orderBy("x")
    wt = Window.partitionBy("cust", "x")
    ranked = cells.join(complete, "cust").select(
        "cust", "dow",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).alias("r2"),
    )
    sums = ranked.groupBy("dow").agg(
        F.sum("r2").cast("bigint").alias("r2sum")
    )
    sums = sums.cache()  # consumed by chi AND the output
    nb = complete.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    chi = sums.agg(
        F.sum(F.col("r2sum") * F.col("r2sum")).cast("bigint").alias("ssq")
    )
    n = F.col("n")
    chi2_f = (
        F.lit(12.0) / (n * 7 * 8) * (F.col("ssq") / 4.0) - 3.0 * n * 8
    )
    return (
        sums.join(F.broadcast(nb)).join(F.broadcast(chi))
        .select(
            "dow",
            n.alias("n_blocks"),
            F.round(F.col("r2sum") / (2.0 * n), 6).alias("mean_rank"),
            F.round(chi2_f, 6).alias("chi2_f"),
            F.when(chi2_f > 12.592, 1).otherwise(0).cast("bigint")
            .alias("significant"),
        )
        .orderBy("dow")
    )


# -- q_partial_corr ----------------------------------------------------
#
# Partial correlation of quantity and extended price per brand,
# CONTROLLING for discount: r_xy·z = (r_xy − r_xz·r_yz) /
# √((1−r_xz²)(1−r_yz²)) — "is the qty↔price association real or
# discount-driven?". The 3×3 moment block is exact decimal
# (quantity/price/discount are fixed-scale), pairwise Pearson r's
# assemble in one identical double chain (the q_regression pattern).
# Scale: one broadcast-dim join, one partial-aggregated scan.

PARTIAL_SQL = """
WITH li AS (
  SELECT p.p_brand AS brand,
         CAST(l_quantity AS DECIMAL(8,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
         CAST(l_discount AS DECIMAL(8,4)) AS z
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), m AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
    CAST(SUM(y) AS DECIMAL(28,2)) AS sy,
    CAST(SUM(z) AS DECIMAL(28,4)) AS sz,
    CAST(SUM(CAST(x * y AS DECIMAL(26,4))) AS DECIMAL(38,4)) AS sxy,
    CAST(SUM(CAST(x * z AS DECIMAL(16,6))) AS DECIMAL(38,6)) AS sxz,
    CAST(SUM(CAST(y * z AS DECIMAL(26,6))) AS DECIMAL(38,6)) AS syz,
    CAST(SUM(CAST(x * x AS DECIMAL(16,4))) AS DECIMAL(38,4)) AS sxx,
    CAST(SUM(CAST(y * y AS DECIMAL(36,4))) AS DECIMAL(38,4)) AS syy,
    CAST(SUM(CAST(z * z AS DECIMAL(16,8))) AS DECIMAL(38,8)) AS szz
  FROM li GROUP BY 1
), r AS (
  SELECT brand, n,
    (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      AS rxy,
    (n * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
      / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
      AS rxz,
    (n * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
      / sqrt((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           * (n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
      AS ryz
  FROM m
  WHERE n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    AND n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    AND n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) > 0
)
SELECT brand, n,
       round(rxy, 6) AS r_qty_price,
       round(rxz, 6) AS r_qty_disc,
       round(ryz, 6) AS r_price_disc,
       round((rxy - rxz * ryz)
             / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
         AS partial_r
FROM r
WHERE (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
ORDER BY brand
"""


@query("q_partial_corr", oracle=PARTIAL_SQL)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    # spread(): the 10-term decimal power-sum fold below runs in the
    # scan stage (partial aggregation), and the single-row-group local
    # file scans as ONE task — heal the width before the fold (r11,
    # guide §2.5/§1.2; A/B in OPTIMIZATION_r11.md).
    li = spread(
        cat.lineitem.select(
            "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
        )
    ).join(
        F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").cast("decimal(8,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
        F.col("l_discount").cast("decimal(8,4)").alias("z"),
    )
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    m = li.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("decimal(28,2)").alias("sx"),
        F.sum(y).cast("decimal(28,2)").alias("sy"),
        F.sum(z).cast("decimal(28,4)").alias("sz"),
        F.sum((x * y).cast("decimal(26,4)")).cast("decimal(38,4)")
        .alias("sxy"),
        F.sum((x * z).cast("decimal(16,6)")).cast("decimal(38,6)")
        .alias("sxz"),
        F.sum((y * z).cast("decimal(26,6)")).cast("decimal(38,6)")
        .alias("syz"),
        F.sum((x * x).cast("decimal(16,4)")).cast("decimal(38,4)")
        .alias("sxx"),
        F.sum((y * y).cast("decimal(36,4)")).cast("decimal(38,4)")
        .alias("syy"),
        F.sum((z * z).cast("decimal(16,8)")).cast("decimal(38,8)")
        .alias("szz"),
    )
    n = F.col("n")

    def d(c: str):
        return F.col(c).cast("double")

    vx = n * d("sxx") - d("sx") * d("sx")
    vy = n * d("syy") - d("sy") * d("sy")
    vz = n * d("szz") - d("sz") * d("sz")
    rxy = (n * d("sxy") - d("sx") * d("sy")) / F.sqrt(vx * vy)
    rxz = (n * d("sxz") - d("sx") * d("sz")) / F.sqrt(vx * vz)
    ryz = (n * d("syz") - d("sy") * d("sz")) / F.sqrt(vy * vz)
    r = (
        m.filter((vx > 0) & (vy > 0) & (vz > 0))
        .select(
            "brand", "n",
            rxy.alias("rxy"), rxz.alias("rxz"), ryz.alias("ryz"),
        )
    )
    denom = (
        (F.lit(1.0) - F.col("rxz") * F.col("rxz"))
        * (F.lit(1.0) - F.col("ryz") * F.col("ryz"))
    )
    return (
        r.filter(denom > 0)
        .select(
            "brand", "n",
            F.round("rxy", 6).alias("r_qty_price"),
            F.round("rxz", 6).alias("r_qty_disc"),
            F.round("ryz", 6).alias("r_price_disc"),
            F.round(
                (F.col("rxy") - F.col("rxz") * F.col("ryz"))
                / F.sqrt(denom), 6
            ).alias("partial_r"),
        )
        .orderBy("brand")
    )


# -- q_cooks_distance --------------------------------------------------
#
# Cook's distance influence diagnostics on the daily-revenue linear
# trend (the q_durbin_watson OLS): which individual DAYS, if
# dropped, would move the fitted trend the most? Simple-regression
# closed forms: leverage h_t = 1/n + (t−t̄)²/Sxx (exact-integer t
# moments), s² = SSR/(n−2) from the DECIMAL(28,6)-rounded residual
# fold, D_t = e²h/(2s²(1−h)²), influential when D > 4/n. Outputs
# stay O(1) (standardized residual, leverage, D) so 6-decimal
# rounding is hash-safe. Scale: one scan → |days| grid → |days| rows.

COOKS_SQL = """
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2))
           AS rev
  FROM lineitem GROUP BY 1
), idx AS (
  SELECT day, date_diff('day', DATE '1992-01-01', day) AS t,
         CAST(rev AS DOUBLE) AS y
  FROM daily
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(19,2))) AS DECIMAL(28,2)) AS sy,
         CAST(SUM(t * CAST(y AS DECIMAL(19,2))) AS DECIMAL(38,2)) AS sxy,
         CAST(SUM(t * t) AS BIGINT) AS sxx
  FROM idx
), fit AS (
  SELECT n, sx, sxx,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n AS a
  FROM m WHERE n * sxx - sx * sx <> 0 AND n > 2
), resid AS (
  SELECT day, t, y - (a + b * t) AS e, n, sx, sxx
  FROM idx CROSS JOIN fit
), s2 AS (
  SELECT CAST(SUM(CAST(round(e * e, 6) AS DECIMAL(38,6))) AS DOUBLE)
           / (n - 2) AS s2
  FROM resid GROUP BY n
), lev AS (
  SELECT day, e,
         1.0 / n + (t - CAST(sx AS DOUBLE) / n)
                   * (t - CAST(sx AS DOUBLE) / n)
                   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) / n * sx)
           AS h, n
  FROM resid
)
SELECT CAST(l.day AS VARCHAR) AS day,
       round(l.e / sqrt(s.s2 * (1.0 - l.h)), 6) AS std_resid,
       round(l.h, 6) AS leverage,
       round(l.e * l.e * l.h / (2.0 * s.s2 * (1.0 - l.h) * (1.0 - l.h)),
             6) AS cooks_d,
       CAST(CASE WHEN l.e * l.e * l.h
                      / (2.0 * s.s2 * (1.0 - l.h) * (1.0 - l.h))
                      > 4.0 / l.n
                 THEN 1 ELSE 0 END AS BIGINT) AS influential
FROM lev l CROSS JOIN s2 s
ORDER BY day
"""


@query("q_cooks_distance", oracle=COOKS_SQL)
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(19,2)").alias("rev")
    )
    idx = daily.select(
        "day",
        F.datediff(F.col("day"), F.lit("1992-01-01")).alias("t"),
        F.col("rev").cast("double").alias("y"),
    )
    idx = idx.cache()  # consumed by m AND resid
    m = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum(F.col("y").cast("decimal(19,2)")).cast("decimal(28,2)")
        .alias("sy"),
        F.sum(F.col("t") * F.col("y").cast("decimal(19,2)"))
        .cast("decimal(38,2)").alias("sxy"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    b = (n * F.col("sxy") - sx * F.col("sy")).cast("double") / (
        n * sxx - sx * sx
    ).cast("double")
    a = (F.col("sy").cast("double") - b * sx) / n
    fit = (
        m.filter(((n * sxx - sx * sx) != 0) & (n > 2))
        .select("n", "sx", "sxx", b.alias("b"), a.alias("a"))
    )
    resid = idx.join(F.broadcast(fit)).select(
        "day", "t",
        (F.col("y") - (F.col("a") + F.col("b") * F.col("t"))).alias("e"),
        "n", "sx", "sxx",
    )
    resid = resid.cache()  # consumed by s2 AND lev
    s2 = resid.groupBy("n").agg(
        (
            F.sum(F.round(F.col("e") * F.col("e"), 6).cast("decimal(38,6)"))
            .cast("double") / (F.col("n") - 2)
        ).alias("s2")
    ).select("s2")
    tb = sx.cast("double") / n
    h = (
        F.lit(1.0) / n
        + (F.col("t") - tb) * (F.col("t") - tb)
        / (sxx.cast("double") - tb * sx)
    )
    lev = resid.select("day", "e", h.alias("h"), "n")
    d_cook = (
        F.col("e") * F.col("e") * F.col("h")
        / (
            F.lit(2.0) * F.col("s2")
            * (F.lit(1.0) - F.col("h")) * (F.lit(1.0) - F.col("h"))
        )
    )
    return (
        lev.join(F.broadcast(s2))
        .select(
            F.col("day").cast("string").alias("day"),
            F.round(
                F.col("e")
                / F.sqrt(F.col("s2") * (F.lit(1.0) - F.col("h"))), 6
            ).alias("std_resid"),
            F.round(F.col("h"), 6).alias("leverage"),
            F.round(d_cook, 6).alias("cooks_d"),
            F.when(d_cook > 4.0 / F.col("n"), 1).otherwise(0).cast("bigint")
            .alias("influential"),
        )
        .orderBy("day")
    )


# -- q_hurst_exponent --------------------------------------------------
#
# Hurst exponent of daily revenue via rescaled-range (R/S) analysis
# (Hurst 1951; Mandelbrot-Wallis): segment the day grid at scales
# 8/16/32/64, compute range-of-cumulative-deviations over segment
# std per full segment, average R/S per scale, and fit
# ln(R/S) ~ H·ln(scale). H≈0.5 = random walk, H>0.5 = persistent
# long memory (trending), H<0.5 = mean-reverting. Cumulative
# deviations fold exact DECIMAL(28,6) (the Page–Hinkley rule:
# raw-double running sums are window-implementation-dependent);
# segment R and the 4-point log-log OLS use decimal-rounded folds.
# Scale: one scan → |days| grid ×4 scales → 4 rows.

HURST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS rev
  FROM orders GROUP BY 1
), grid AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS i,
         CAST(rev AS DOUBLE) AS y
  FROM daily
), seg AS (
  SELECT s.scale, g.i // s.scale AS segid, g.i, g.y
  FROM grid g CROSS JOIN (VALUES (8), (16), (32), (64)) s(scale)
), full_seg AS (
  SELECT scale, segid FROM seg GROUP BY 1, 2 HAVING COUNT(*) = scale
), segstat AS (
  SELECT s.scale, s.segid,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(round(s.y, 2) AS DECIMAL(28,2))) AS DOUBLE) AS sy
  FROM seg s JOIN full_seg f ON f.scale = s.scale AND f.segid = s.segid
  GROUP BY 1, 2
), dev AS (
  SELECT s.scale, s.segid, s.i,
         CAST(round(s.y - st.sy / st.cnt, 6) AS DECIMAL(28,6)) AS d
  FROM seg s
  JOIN segstat st ON st.scale = s.scale AND st.segid = s.segid
), walk AS (
  SELECT scale, segid,
         SUM(d) OVER (PARTITION BY scale, segid ORDER BY i) AS w, d
  FROM dev
), rs AS (
  SELECT w.scale, w.segid,
         CAST(MAX(w.w) - MIN(w.w) AS DOUBLE) AS r,
         sqrt(CAST(SUM(CAST(round(CAST(w.d AS DOUBLE)
                                  * CAST(w.d AS DOUBLE), 4)
                            AS DECIMAL(38,4))) AS DOUBLE)
              / COUNT(*)) AS s
  FROM walk w GROUP BY 1, 2
), per_scale AS (
  SELECT scale,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(CAST(round(r / s, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / COUNT(*) AS mean_rs
  FROM rs WHERE s > 0 GROUP BY 1
), pts AS (
  SELECT ln(CAST(scale AS DOUBLE)) AS lx, ln(mean_rs) AS ly FROM per_scale
), ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
    CAST(SUM(CAST(round(lx, 9) AS DECIMAL(28,9))) AS DOUBLE) AS slx,
    CAST(SUM(CAST(round(ly, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sly,
    CAST(SUM(CAST(round(lx * ly, 9) AS DECIMAL(28,9))) AS DOUBLE) AS slxy,
    CAST(SUM(CAST(round(lx * lx, 9) AS DECIMAL(28,9))) AS DOUBLE) AS slxx
  FROM pts
)
SELECT p.scale, p.n_segments,
       round(p.mean_rs, 6) AS mean_rs,
       round((o.np * o.slxy - o.slx * o.sly)
             / (o.np * o.slxx - o.slx * o.slx), 6) AS hurst
FROM per_scale p CROSS JOIN ols o
ORDER BY p.scale
"""


@query("q_hurst_exponent", oracle=HURST_SQL)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    grid = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("i"),
        F.col("rev").cast("double").alias("y"),
    )  # grid-sized sort over unique days
    scales = spark.createDataFrame(
        [(8,), (16,), (32,), (64,)], "scale int"
    )
    seg = grid.crossJoin(F.broadcast(scales)).select(
        "scale",
        (F.col("i") / F.col("scale")).cast("bigint").alias("segid"),
        "i", "y",
    )
    seg = seg.cache()  # consumed by full_seg, segstat AND dev
    full_seg = seg.groupBy("scale", "segid").agg(
        F.count(F.lit(1)).alias("ct")
    ).filter(F.col("ct") == F.col("scale")).select("scale", "segid")
    segstat = (
        seg.join(full_seg, ["scale", "segid"])
        .groupBy("scale", "segid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.round("y", 2).cast("decimal(28,2)")).cast("double")
            .alias("sy"),
        )
    )
    dev = seg.join(segstat, ["scale", "segid"]).select(
        "scale", "segid", "i",
        F.round(F.col("y") - F.col("sy") / F.col("cnt"), 6)
        .cast("decimal(28,6)").alias("d"),
    )
    ww = Window.partitionBy("scale", "segid").orderBy("i")
    walk = dev.select(
        "scale", "segid", F.sum("d").over(ww).alias("w"), "d"
    )
    rs = walk.groupBy("scale", "segid").agg(
        (F.max("w") - F.min("w")).cast("double").alias("r"),
        F.sqrt(
            F.sum(
                F.round(
                    F.col("d").cast("double") * F.col("d").cast("double"), 4
                ).cast("decimal(38,4)")
            ).cast("double") / F.count(F.lit(1))
        ).alias("s"),
    )
    per_scale = (
        rs.filter(F.col("s") > 0)
        .groupBy("scale")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            (
                F.sum(
                    F.round(F.col("r") / F.col("s"), 9).cast("decimal(28,9)")
                ).cast("double") / F.count(F.lit(1))
            ).alias("mean_rs"),
        )
    )
    per_scale = per_scale.cache()  # consumed by ols AND the output
    pts = per_scale.select(
        F.log(F.col("scale").cast("double")).alias("lx"),
        F.log("mean_rs").alias("ly"),
    )

    def fold(expr, name):
        return (
            F.sum(F.round(expr, 9).cast("decimal(28,9)")).cast("double")
            .alias(name)
        )

    ols = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        fold(F.col("lx"), "slx"), fold(F.col("ly"), "sly"),
        fold(F.col("lx") * F.col("ly"), "slxy"),
        fold(F.col("lx") * F.col("lx"), "slxx"),
    )
    hurst = (
        F.col("np") * F.col("slxy") - F.col("slx") * F.col("sly")
    ) / (F.col("np") * F.col("slxx") - F.col("slx") * F.col("slx"))
    return (
        per_scale.join(F.broadcast(ols))
        .select(
            "scale", "n_segments",
            F.round("mean_rs", 6).alias("mean_rs"),
            F.round(hurst, 6).alias("hurst"),
        )
        .orderBy("scale")
    )


# -- q_prais_winsten ---------------------------------------------------
#
# Prais–Winsten AR(1)-corrected trend fit on daily revenue: the
# q_durbin_watson diagnostic SAYS the OLS trend's serial correlation
# understates uncertainty — this entry FIXES it. ρ̂ = 1 − DW/2 from
# the OLS residual chain, then the PW quasi-differenced system
# (y*₁ = √(1−ρ²)·y₁ and y*ₜ = yₜ − ρyₜ₋₁, with the CONSTANT
# regressor transformed too) refits as a no-intercept 2-regressor
# OLS via the closed-form 2×2 normal equations (the q_granger_lite
# machinery). All base moments are exact decimal/bigint; transformed
# moments fold DECIMAL(38,4)-rounded terms. Scale: one scan →
# |days| grid → 1 row.

PW_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS rev
  FROM orders GROUP BY 1
), idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS t,
         CAST(rev AS DOUBLE) AS y
  FROM daily
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(19,2))) AS DECIMAL(28,2)) AS sy,
         CAST(SUM(t * CAST(y AS DECIMAL(19,2))) AS DECIMAL(38,2)) AS sxy,
         CAST(SUM(t * t) AS BIGINT) AS sxx
  FROM idx
), fit AS (
  SELECT n,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n AS a
  FROM m WHERE n * sxx - sx * sx <> 0
), resid AS (
  SELECT t, y, y - (a + b * t) AS e,
         LAG(y - (a + b * t)) OVER (ORDER BY t) AS ep,
         LAG(y) OVER (ORDER BY t) AS yp, a, b, n
  FROM idx CROSS JOIN fit
), dw AS (
  SELECT CAST(SUM(CASE WHEN ep IS NOT NULL
                       THEN CAST(round((e - ep) * (e - ep), 6)
                                 AS DECIMAL(38,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(round(e * e, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS dwstat,
         MAX(b) AS b_ols, MAX(n) AS n
  FROM resid
), rho AS (
  SELECT 1.0 - dwstat / 2.0 AS r, b_ols, n, dwstat FROM dw
), star AS (
  SELECT CASE WHEN yp IS NULL THEN sqrt(1.0 - r * r) * y
              ELSE y - r * yp END AS ys,
         CASE WHEN yp IS NULL THEN sqrt(1.0 - r * r) * t
              ELSE t - r * (t - 1) END AS xs,
         CASE WHEN yp IS NULL THEN sqrt(1.0 - r * r)
              ELSE 1.0 - r END AS cs
  FROM resid CROSS JOIN rho
), pm AS (
  SELECT
    CAST(SUM(CAST(round(cs * cs, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s11,
    CAST(SUM(CAST(round(cs * xs, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s12,
    CAST(SUM(CAST(round(xs * xs, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s22,
    CAST(SUM(CAST(round(cs * ys, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s1y,
    CAST(SUM(CAST(round(xs * ys, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s2y
  FROM star
)
SELECT r.n AS n_days,
       round(r.dwstat, 6) AS dw_stat,
       round(r.r, 6) AS rho,
       round(r.b_ols, 6) AS slope_ols,
       round((p.s2y * p.s11 - p.s1y * p.s12)
             / (p.s11 * p.s22 - p.s12 * p.s12), 6) AS slope_pw,
       round((p.s1y * p.s22 - p.s2y * p.s12)
             / (p.s11 * p.s22 - p.s12 * p.s12), 6) AS intercept_pw
FROM rho r CROSS JOIN pm p
WHERE p.s11 * p.s22 - p.s12 * p.s12 <> 0
"""


@query("q_prais_winsten", oracle=PW_SQL)
def q_prais_winsten(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        F.col("rev").cast("double").alias("y"),
    )
    idx = idx.cache()  # consumed by m AND resid
    m = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum(F.col("y").cast("decimal(19,2)")).cast("decimal(28,2)")
        .alias("sy"),
        F.sum(F.col("t") * F.col("y").cast("decimal(19,2)"))
        .cast("decimal(38,2)").alias("sxy"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    b = (n * F.col("sxy") - sx * F.col("sy")).cast("double") / (
        n * sxx - sx * sx
    ).cast("double")
    a = (F.col("sy").cast("double") - b * sx) / n
    fit = (
        m.filter((n * sxx - sx * sx) != 0)
        .select("n", b.alias("b"), a.alias("a"))
    )
    w = Window.orderBy("t")  # grid-sized sort over unique day indexes
    ecol = F.col("y") - (F.col("a") + F.col("b") * F.col("t"))
    resid = idx.join(F.broadcast(fit)).select(
        "t", "y",
        ecol.alias("e"),
        F.lag(ecol).over(w).alias("ep"),
        F.lag("y").over(w).alias("yp"),
        "a", "b", "n",
    )
    resid = resid.cache()  # consumed by dw AND star
    dw = resid.agg(
        (
            F.sum(
                F.when(
                    F.col("ep").isNotNull(),
                    F.round(
                        (F.col("e") - F.col("ep"))
                        * (F.col("e") - F.col("ep")), 6
                    ).cast("decimal(38,6)"),
                )
            ).cast("double")
            / F.sum(
                F.round(F.col("e") * F.col("e"), 6).cast("decimal(38,6)")
            ).cast("double")
        ).alias("dwstat"),
        F.max("b").alias("b_ols"),
        F.max("n").alias("n"),
    )
    rho = dw.select(
        (F.lit(1.0) - F.col("dwstat") / 2.0).alias("r"),
        "b_ols", "n", "dwstat",
    )
    r = F.col("r")
    first = F.col("yp").isNull()
    star = resid.join(F.broadcast(rho)).select(
        F.when(first, F.sqrt(F.lit(1.0) - r * r) * F.col("y"))
        .otherwise(F.col("y") - r * F.col("yp")).alias("ys"),
        F.when(first, F.sqrt(F.lit(1.0) - r * r) * F.col("t"))
        .otherwise(F.col("t") - r * (F.col("t") - 1)).alias("xs"),
        F.when(first, F.sqrt(F.lit(1.0) - r * r))
        .otherwise(F.lit(1.0) - r).alias("cs"),
    )

    def fold(ca, cb, name):
        return (
            F.sum(F.round(F.col(ca) * F.col(cb), 4).cast("decimal(38,4)"))
            .cast("double").alias(name)
        )

    pm = star.agg(
        fold("cs", "cs", "s11"), fold("cs", "xs", "s12"),
        fold("xs", "xs", "s22"), fold("cs", "ys", "s1y"),
        fold("xs", "ys", "s2y"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    return (
        rho.join(F.broadcast(pm))
        .filter(det != 0)
        .select(
            F.col("n").alias("n_days"),
            F.round("dwstat", 6).alias("dw_stat"),
            F.round("r", 6).alias("rho"),
            F.round("b_ols", 6).alias("slope_ols"),
            F.round(
                (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12"))
                / det, 6
            ).alias("slope_pw"),
            F.round(
                (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12"))
                / det, 6
            ).alias("intercept_pw"),
        )
    )


# -- q_chow_test -------------------------------------------------------
#
# Chow structural-break F-test on the daily revenue trend at the
# midpoint of the observed date range (a deterministic split): do
# the two halves follow the SAME linear trend, or did slope /
# level shift? F = ((SSR_p − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4))
# against the large-n χ²(2)/2 critical value 2.996. Per-half AND
# pooled SSRs come from the same exact decimal/bigint moment block
# (pooled = summed halves), so the whole statistic is one identical
# double chain — the hypothesis-test companion to
# q_interrupted_ts's effect estimates. Scale: one scan → 2-row
# moment grid → 1 row.

CHOW_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS rev
  FROM orders GROUP BY 1
), bounds AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
), idx AS (
  SELECT date_diff('day', b.d0, d.day) AS t,
         CAST(d.rev AS DOUBLE) AS y,
         CASE WHEN 2 * date_diff('day', b.d0, d.day)
                   <= date_diff('day', b.d0, b.d1)
              THEN 0 ELSE 1 END AS half
  FROM daily d CROSS JOIN bounds b
), m AS (
  SELECT half, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(19,2))) AS DECIMAL(28,2)) AS sy,
         CAST(SUM(t * CAST(y AS DECIMAL(19,2))) AS DECIMAL(38,2)) AS sxy,
         CAST(SUM(t * t) AS BIGINT) AS sxx,
         CAST(SUM(CAST(CAST(y AS DECIMAL(19,2))
                       * CAST(y AS DECIMAL(19,2)) AS DECIMAL(38,4)))
              AS DECIMAL(38,4)) AS syy
  FROM idx GROUP BY 1
), halves AS (
  SELECT half,
         n,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
           - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS ssr,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope
  FROM m
), pooled AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(sx) AS BIGINT) AS sx,
         CAST(SUM(sy) AS DECIMAL(38,2)) AS sy,
         CAST(SUM(sxy) AS DECIMAL(38,2)) AS sxy,
         CAST(SUM(sxx) AS BIGINT) AS sxx,
         CAST(SUM(syy) AS DECIMAL(38,4)) AS syy
  FROM m
), pssr AS (
  SELECT n,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
           - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS ssr,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope
  FROM pooled
), agg AS (
  SELECT MIN(CASE WHEN half = 0 THEN n END) AS n1,
         MIN(CASE WHEN half = 1 THEN n END) AS n2,
         CAST(SUM(CAST(round(ssr, 2) AS DECIMAL(38,2))) AS DOUBLE)
           AS ssr_halves,
         MIN(CASE WHEN half = 0 THEN slope END) AS slope_pre,
         MIN(CASE WHEN half = 1 THEN slope END) AS slope_post
  FROM halves
)
SELECT a.n1 AS n_pre, a.n2 AS n_post,
       round(p.slope, 6) AS slope_pooled,
       round(a.slope_pre, 6) AS slope_pre,
       round(a.slope_post, 6) AS slope_post,
       round(((p.ssr - a.ssr_halves) / 2.0)
             / (a.ssr_halves / (p.n - 4)), 6) AS f_stat,
       CAST(CASE WHEN ((p.ssr - a.ssr_halves) / 2.0)
                      / (a.ssr_halves / (p.n - 4)) > 2.996
                 THEN 1 ELSE 0 END AS BIGINT) AS break_signif
FROM agg a CROSS JOIN pssr p
WHERE a.ssr_halves > 0 AND p.n > 4
"""


@query("q_chow_test", oracle=CHOW_SQL)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    daily = daily.cache()  # consumed by bounds AND idx
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    t = F.datediff(F.col("day"), F.col("d0"))
    span = F.datediff(F.col("d1"), F.col("d0"))
    idx = daily.join(F.broadcast(bounds)).select(
        t.alias("t"),
        F.col("rev").cast("double").alias("y"),
        F.when(2 * t <= span, 0).otherwise(1).alias("half"),
    )
    m = idx.groupBy("half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum(F.col("y").cast("decimal(19,2)")).cast("decimal(28,2)")
        .alias("sy"),
        F.sum(F.col("t") * F.col("y").cast("decimal(19,2)"))
        .cast("decimal(38,2)").alias("sxy"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("sxx"),
        F.sum(
            (
                F.col("y").cast("decimal(19,2)")
                * F.col("y").cast("decimal(19,2)")
            ).cast("decimal(38,4)")
        ).cast("decimal(38,4)").alias("syy"),
    )
    m = m.cache()  # consumed by halves AND pooled

    def ssr_slope(df):
        n = F.col("n")
        cy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
        cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
        cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
        return df.withColumn("ssr", cy - cxy * cxy / cxx).withColumn(
            "slope", cxy / cxx
        )

    halves = ssr_slope(m)
    pooled = m.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("decimal(38,2)").alias("sy"),
        F.sum("sxy").cast("decimal(38,2)").alias("sxy"),
        F.sum("sxx").cast("bigint").alias("sxx"),
        F.sum("syy").cast("decimal(38,4)").alias("syy"),
    )
    pssr = ssr_slope(pooled).select(
        "n", "ssr", F.col("slope").alias("slope_pooled")
    )
    agg = halves.agg(
        F.min(F.when(F.col("half") == 0, F.col("n"))).alias("n1"),
        F.min(F.when(F.col("half") == 1, F.col("n"))).alias("n2"),
        F.sum(F.round("ssr", 2).cast("decimal(38,2)")).cast("double")
        .alias("ssr_halves"),
        F.min(F.when(F.col("half") == 0, F.col("slope"))).alias("slope_pre"),
        F.min(F.when(F.col("half") == 1, F.col("slope")))
        .alias("slope_post"),
    )
    f_stat = ((F.col("ssr") - F.col("ssr_halves")) / 2.0) / (
        F.col("ssr_halves") / (F.col("n") - 4)
    )
    return (
        agg.join(F.broadcast(pssr))
        .filter((F.col("ssr_halves") > 0) & (F.col("n") > 4))
        .select(
            F.col("n1").alias("n_pre"),
            F.col("n2").alias("n_post"),
            F.round("slope_pooled", 6).alias("slope_pooled"),
            F.round("slope_pre", 6).alias("slope_pre"),
            F.round("slope_post", 6).alias("slope_post"),
            F.round(f_stat, 6).alias("f_stat"),
            F.when(f_stat > 2.996, 1).otherwise(0).cast("bigint")
            .alias("break_signif"),
        )
    )


# -- q_rate_ratio ------------------------------------------------------
#
# Two-sample Poisson rate-ratio test: is the ERROR event rate per
# calendar day different on weekends vs weekdays? Exact integer
# error counts and day counts, rate ratio with the standard
# log-scale z = ln(r₁/r₂)/√(1/n₁+1/n₂) (count-based SE). The
# incident-rate companion to q_ab_test's proportion comparison.
# Scale: one scan → 1 row.

RATE_RATIO_SQL = """
WITH days AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(MAX(CASE WHEN isodow(CAST(ts AS DATE)) >= 6
                       THEN 1 ELSE 0 END) AS BIGINT) AS is_we,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs
  FROM events GROUP BY 1
), agg AS (
  SELECT CAST(SUM(CASE WHEN is_we = 1 THEN errs ELSE 0 END) AS BIGINT)
           AS n_we,
         CAST(SUM(CASE WHEN is_we = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS d_we,
         CAST(SUM(CASE WHEN is_we = 0 THEN errs ELSE 0 END) AS BIGINT)
           AS n_wd,
         CAST(SUM(CASE WHEN is_we = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS d_wd
  FROM days
)
SELECT n_we, d_we, n_wd, d_wd,
       round(CAST(n_we AS DOUBLE) / d_we, 6) AS rate_we,
       round(CAST(n_wd AS DOUBLE) / d_wd, 6) AS rate_wd,
       round((CAST(n_we AS DOUBLE) / d_we) / (CAST(n_wd AS DOUBLE) / d_wd),
             6) AS rate_ratio,
       round(ln((CAST(n_we AS DOUBLE) / d_we)
                / (CAST(n_wd AS DOUBLE) / d_wd))
             / sqrt(1.0 / n_we + 1.0 / n_wd), 6) AS z,
       CAST(CASE WHEN abs(ln((CAST(n_we AS DOUBLE) / d_we)
                             / (CAST(n_wd AS DOUBLE) / d_wd))
                          / sqrt(1.0 / n_we + 1.0 / n_wd)) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM agg
WHERE n_we > 0 AND n_wd > 0 AND d_we > 0 AND d_wd > 0
"""


@query("q_rate_ratio", oracle=RATE_RATIO_SQL)
def q_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    day = F.col("ts").cast("date")
    iso = F.when(F.dayofweek(day) == 1, F.lit(7)).otherwise(
        F.dayofweek(day) - 1
    )
    days = e.groupBy(day.alias("day")).agg(
        F.max(F.when(iso >= 6, 1).otherwise(0)).cast("bigint")
        .alias("is_we"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint").alias("errs"),
    )
    agg = days.agg(
        F.sum(F.when(F.col("is_we") == 1, F.col("errs")).otherwise(0))
        .cast("bigint").alias("n_we"),
        F.sum(F.when(F.col("is_we") == 1, 1).otherwise(0)).cast("bigint")
        .alias("d_we"),
        F.sum(F.when(F.col("is_we") == 0, F.col("errs")).otherwise(0))
        .cast("bigint").alias("n_wd"),
        F.sum(F.when(F.col("is_we") == 0, 1).otherwise(0)).cast("bigint")
        .alias("d_wd"),
    )
    rate_we = F.col("n_we").cast("double") / F.col("d_we")
    rate_wd = F.col("n_wd").cast("double") / F.col("d_wd")
    z = F.log(rate_we / rate_wd) / F.sqrt(
        F.lit(1.0) / F.col("n_we") + F.lit(1.0) / F.col("n_wd")
    )
    return (
        agg.filter(
            (F.col("n_we") > 0) & (F.col("n_wd") > 0)
            & (F.col("d_we") > 0) & (F.col("d_wd") > 0)
        )
        .select(
            "n_we", "d_we", "n_wd", "d_wd",
            F.round(rate_we, 6).alias("rate_we"),
            F.round(rate_wd, 6).alias("rate_wd"),
            F.round(rate_we / rate_wd, 6).alias("rate_ratio"),
            F.round(z, 6).alias("z"),
            F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("bigint")
            .alias("significant"),
        )
    )


# -- q_spectral_power --------------------------------------------------
#
# Single-bin DFT (Goertzel-style) power of daily revenue at the
# three calendar frequencies (weekly / monthly / annual): amplitude
# 2·√(C²+S²)/n from C = Σz·cos(2πt/P), S = Σz·sin(2πt/P) on the
# mean-removed normalized series z = y/ȳ − 1, plus the share of
# series variance each sinusoid explains (amp²/2 / var). The
# frequency-domain companion to q_seasonality's grouped means —
# detects cycles at ANY phase without bucketing. cos/sin arguments
# are REDUCED to [0, 2π) via the exact integer t mod P before libm
# (large-argument reduction is where libm implementations diverge);
# products round to DECIMAL(28,9) pre-fold. Scale: one scan →
# |days|×3 grid → 3 rows.

SPECTRAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS rev
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(SUM(rev) AS DECIMAL(38,2)) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily
), grid AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS t,
         CAST(rev AS DOUBLE) / (CAST(s AS DOUBLE) / n) - 1.0 AS z,
         n
  FROM daily CROSS JOIN tot
), terms AS (
  SELECT p.period, g.n,
         CAST(round(g.z * cos(2 * pi() * (g.t % p.period) / p.period), 9)
              AS DECIMAL(28,9)) AS zc,
         CAST(round(g.z * sin(2 * pi() * (g.t % p.period) / p.period), 9)
              AS DECIMAL(28,9)) AS zs,
         CAST(round(g.z * g.z, 9) AS DECIMAL(28,9)) AS zz
  FROM grid g CROSS JOIN (VALUES (7), (30), (365)) p(period)
), folds AS (
  SELECT period, n,
         CAST(SUM(zc) AS DOUBLE) AS c,
         CAST(SUM(zs) AS DOUBLE) AS s,
         CAST(SUM(zz) AS DOUBLE) AS vz
  FROM terms GROUP BY 1, 2
)
SELECT period, n AS n_days,
       round(2.0 * sqrt(c * c + s * s) / n, 6) AS amplitude,
       round((2.0 * sqrt(c * c + s * s) / n)
             * (2.0 * sqrt(c * c + s * s) / n) / 2.0
             / (vz / n), 6) AS var_share
FROM folds
WHERE vz > 0
ORDER BY period
"""


@query("q_spectral_power", oracle=SPECTRAL_SQL)
def q_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    daily = daily.cache()  # consumed by tot AND grid
    tot = daily.agg(
        F.sum("rev").cast("decimal(38,2)").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    grid = daily.join(F.broadcast(tot)).select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        (
            F.col("rev").cast("double")
            / (F.col("s").cast("double") / F.col("n"))
            - F.lit(1.0)
        ).alias("z"),
        "n",
    )
    periods = spark.createDataFrame([(7,), (30,), (365,)], "period int")
    tau = 2 * math.pi
    arg = F.lit(tau) * (F.col("t") % F.col("period")) / F.col("period")
    terms = grid.crossJoin(F.broadcast(periods)).select(
        "period", "n",
        F.round(F.col("z") * F.cos(arg), 9).cast("decimal(28,9)")
        .alias("zc"),
        F.round(F.col("z") * F.sin(arg), 9).cast("decimal(28,9)")
        .alias("zs"),
        F.round(F.col("z") * F.col("z"), 9).cast("decimal(28,9)")
        .alias("zz"),
    )
    folds = terms.groupBy("period", "n").agg(
        F.sum("zc").cast("double").alias("c"),
        F.sum("zs").cast("double").alias("s"),
        F.sum("zz").cast("double").alias("vz"),
    )
    amp = (
        F.lit(2.0)
        * F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s"))
        / F.col("n")
    )
    return (
        folds.filter(F.col("vz") > 0)
        .select(
            "period",
            F.col("n").alias("n_days"),
            F.round(amp, 6).alias("amplitude"),
            F.round(amp * amp / 2.0 / (F.col("vz") / F.col("n")), 6)
            .alias("var_share"),
        )
        .orderBy("period")
    )


# -- q_median_polish ---------------------------------------------------
#
# Tukey median polish of the weekday × month revenue grid (two full
# row/column sweeps): the ROBUST two-way decomposition — row and
# column effects that outlying cells can't drag, with the residual
# grid exposing genuine interactions (q_calendar_heatmap shows the
# raw grid; this separates it into dow effect + month effect +
# surprise). Uses the LOW median (the ⌈n/2⌉-th order statistic,
# deterministic tiebreak on the cross key), so the ENTIRE polish
# stays in exact integer cents — no division, no doubles, no
# rounding until the final /100 display conversion. Scale: one
# scan → 84-cell grid → 4 grid-sized sweeps.

MEDIAN_POLISH_SQL = """
WITH cells AS (
  SELECT isodow(CAST(o_orderdate AS DATE)) AS dow,
         month(CAST(o_orderdate AS DATE)) AS mon,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
              * 100 AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
), r1 AS (
  SELECT dow, v AS lm1 FROM (
    SELECT dow, v,
           ROW_NUMBER() OVER (PARTITION BY dow ORDER BY v, mon) AS rn,
           COUNT(*) OVER (PARTITION BY dow) AS cnt
    FROM cells) t
  WHERE rn = (cnt + 1) // 2
), a1 AS (
  SELECT c.dow, c.mon, c.v, c.v - r.lm1 AS v1, r.lm1
  FROM cells c JOIN r1 r ON r.dow = c.dow
), c1 AS (
  SELECT mon, v1 AS cm1 FROM (
    SELECT mon, v1,
           ROW_NUMBER() OVER (PARTITION BY mon ORDER BY v1, dow) AS rn,
           COUNT(*) OVER (PARTITION BY mon) AS cnt
    FROM a1) t
  WHERE rn = (cnt + 1) // 2
), a2 AS (
  SELECT a.dow, a.mon, a.v, a.lm1, a.v1 - c.cm1 AS v2, c.cm1
  FROM a1 a JOIN c1 c ON c.mon = a.mon
), r2 AS (
  SELECT dow, v2 AS lm2 FROM (
    SELECT dow, v2,
           ROW_NUMBER() OVER (PARTITION BY dow ORDER BY v2, mon) AS rn,
           COUNT(*) OVER (PARTITION BY dow) AS cnt
    FROM a2) t
  WHERE rn = (cnt + 1) // 2
), a3 AS (
  SELECT a.dow, a.mon, a.v, a.lm1, a.cm1, a.v2 - r.lm2 AS v3, r.lm2
  FROM a2 a JOIN r2 r ON r.dow = a.dow
), c2 AS (
  SELECT mon, v3 AS cm2 FROM (
    SELECT mon, v3,
           ROW_NUMBER() OVER (PARTITION BY mon ORDER BY v3, dow) AS rn,
           COUNT(*) OVER (PARTITION BY mon) AS cnt
    FROM a3) t
  WHERE rn = (cnt + 1) // 2
), a4 AS (
  SELECT a.dow, a.mon, a.v, a.lm1 + a.lm2 AS re, a.cm1 + c.cm2 AS ce,
         a.v3 - c.cm2 AS resid
  FROM a3 a JOIN c2 c ON c.mon = a.mon
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(mon AS BIGINT) AS mon,
       v / 100.0 AS cell,
       re / 100.0 AS row_effect,
       ce / 100.0 AS col_effect,
       resid / 100.0 AS residual
FROM a4
ORDER BY dow, mon
"""


@query("q_median_polish", oracle=MEDIAN_POLISH_SQL)
def q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    iso = F.when(F.dayofweek("o_orderdate") == 1, F.lit(7)).otherwise(
        F.dayofweek("o_orderdate") - 1
    )
    cells = o.groupBy(
        iso.cast("bigint").alias("dow"),
        F.month("o_orderdate").cast("bigint").alias("mon"),
    ).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)") * 100
        ).cast("bigint").alias("v")
    ).localCheckpoint()  # 84-row dow×month grid; scan done once

    def lowmed(df, part: str, val: str, tie: str, out: str):
        w = Window.partitionBy(part).orderBy(val, tie)
        wc = Window.partitionBy(part)
        return (
            df.select(
                part, val,
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(wc).alias("cnt"),
            )
            .filter(
                F.col("rn") == F.floor((F.col("cnt") + 1) / 2).cast("int")
            )
            .select(part, F.col(val).alias(out))
        )

    # Each sweep references its predecessor TWICE (rows + their
    # medians), so without a cut the lineage — and the Exchange count —
    # doubles per sweep (39 Exchanges at r9). localCheckpoint at each
    # 84-row sweep boundary, the q_raking_weights IPF pattern.
    a1 = cells.join(lowmed(cells, "dow", "v", "mon", "lm1"), "dow").select(
        "dow", "mon", "v", (F.col("v") - F.col("lm1")).alias("v1"), "lm1"
    ).localCheckpoint()
    a2 = a1.join(lowmed(a1, "mon", "v1", "dow", "cm1"), "mon").select(
        "dow", "mon", "v", "lm1",
        (F.col("v1") - F.col("cm1")).alias("v2"), "cm1",
    ).localCheckpoint()
    a3 = a2.join(lowmed(a2, "dow", "v2", "mon", "lm2"), "dow").select(
        "dow", "mon", "v", "lm1", "cm1",
        (F.col("v2") - F.col("lm2")).alias("v3"), "lm2",
    ).localCheckpoint()
    a4 = a3.join(lowmed(a3, "mon", "v3", "dow", "cm2"), "mon").select(
        "dow", "mon", "v",
        (F.col("lm1") + F.col("lm2")).alias("re"),
        (F.col("cm1") + F.col("cm2")).alias("ce"),
        (F.col("v3") - F.col("cm2")).alias("resid"),
    )
    return a4.select(
        "dow", "mon",
        (F.col("v") / 100.0).alias("cell"),
        (F.col("re") / 100.0).alias("row_effect"),
        (F.col("ce") / 100.0).alias("col_effect"),
        (F.col("resid") / 100.0).alias("residual"),
    ).orderBy("dow", "mon")


# -- q_process_capability ----------------------------------------------
#
# Process capability indices (Cp / Cpk) of order totals per market
# segment against fixed spec limits [10k, 400k] — the SPC summary
# that completes the control-chart family (q_xmr_chart watches the
# process, q_cusum_control detects shifts, Cp/Cpk grades whether
# the process FITS the spec at all). Exact decimal moments, exact
# out-of-spec counts; Cp = (USL−LSL)/6σ, Cpk = min(USL−μ, μ−LSL)/3σ
# in one identical double chain. Scale: one partial-aggregated
# scan → |segments| rows.

CPK_SQL = """
WITH v AS (
  SELECT c.c_mktsegment AS seg,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), m AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
         CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxx,
         CAST(SUM(CASE WHEN x < 10000 OR x > 400000 THEN 1 ELSE 0 END)
              AS BIGINT) AS oos
  FROM v GROUP BY 1
), s AS (
  SELECT seg, n, oos,
         CAST(sx AS DOUBLE) / n AS mu,
         sqrt(CAST(sxx AS DOUBLE) / n
              - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
           AS sigma
  FROM m
)
SELECT seg AS segment, n, oos AS n_out_of_spec,
       round(CAST(oos AS DOUBLE) / n, 6) AS oos_rate,
       round(mu, 6) AS mean_total,
       round((400000.0 - 10000.0) / (6.0 * sigma), 6) AS cp,
       round(CASE WHEN 400000.0 - mu < mu - 10000.0
                  THEN (400000.0 - mu) / (3.0 * sigma)
                  ELSE (mu - 10000.0) / (3.0 * sigma) END, 6) AS cpk
FROM s
WHERE sigma > 0
ORDER BY seg
"""


@query("q_process_capability", oracle=CPK_SQL)
def q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    x = F.col("o_totalprice").cast("decimal(18,2)")
    m = (
        cat.orders.join(
            F.broadcast(cat.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(F.col("c_mktsegment").alias("seg"), x.alias("x"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("decimal(38,2)").alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)"))
            .cast("decimal(38,4)").alias("sxx"),
            F.sum(
                F.when((F.col("x") < 10000) | (F.col("x") > 400000), 1)
                .otherwise(0)
            ).cast("bigint").alias("oos"),
        )
    )
    mu = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(F.col("sxx").cast("double") / F.col("n") - mu * mu)
    return (
        m.withColumn("mu", mu).withColumn("sigma", sigma)
        .filter(F.col("sigma") > 0)
        .select(
            F.col("seg").alias("segment"), "n",
            F.col("oos").alias("n_out_of_spec"),
            F.round(F.col("oos").cast("double") / F.col("n"), 6)
            .alias("oos_rate"),
            F.round("mu", 6).alias("mean_total"),
            F.round(
                (F.lit(400000.0) - 10000.0) / (6.0 * F.col("sigma")), 6
            ).alias("cp"),
            F.round(
                F.when(
                    F.lit(400000.0) - F.col("mu") < F.col("mu") - 10000.0,
                    (F.lit(400000.0) - F.col("mu")) / (3.0 * F.col("sigma")),
                ).otherwise(
                    (F.col("mu") - 10000.0) / (3.0 * F.col("sigma"))
                ), 6
            ).alias("cpk"),
        )
        .orderBy("segment")
    )


# -- q_holm_adjust -----------------------------------------------------
#
# Holm step-DOWN familywise-error correction over 25 simultaneous
# per-brand "is this brand's mean order quantity off the global
# mean?" z-tests — the FWER sibling of q_bh_fdr's FDR step-up (Holm
# controls ANY false positive; BH controls the false-discovery
# RATE; run on different test families by design). Same exact
# decimal moments and _normal.erfc_sqrt2 p-values (pre-rounded to 9
# so the ordering is cross-engine stable); Holm adjustment is the
# prefix-MAX of (m−j+1)·p over ascending p, capped at 1. Scale: one
# broadcast-dim join + partial-aggregated scan → 25-row grid.

HOLM_SQL = f"""
WITH li AS (
  SELECT p.p_brand AS brand, CAST(l.l_quantity AS DECIMAL(8,2)) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), per AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(q) AS DECIMAL(28,2)) AS s1
  FROM li GROUP BY 1
), gstat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS DECIMAL(28,2)) AS s,
         CAST(SUM(CAST(q * q AS DECIMAL(16,4))) AS DECIMAL(38,4)) AS ssq
  FROM li
), zt AS (
  SELECT brand, n1,
         round(CAST(s1 AS DOUBLE) / n1, 6) AS mean_qty,
         round(
           (CAST(s1 AS DOUBLE) / n1 - CAST(s AS DOUBLE) / n)
           / (sqrt((CAST(ssq AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
              / sqrt(CAST(n1 AS DOUBLE))), 6) AS z
  FROM per CROSS JOIN gstat
), pv AS (
  SELECT brand, n1, mean_qty, z,
         round({erfc_sqrt2('abs(z)')}, 9) AS p_raw
  FROM zt
), rk AS (
  SELECT brand, n1, mean_qty, z, p_raw,
         ROW_NUMBER() OVER (ORDER BY p_raw, brand) AS j,
         COUNT(*) OVER () AS m
  FROM pv
)
SELECT brand, n1, mean_qty, z, p_raw,
       round(LEAST(1.0,
         MAX(p_raw * (m - j + 1)) OVER (ORDER BY j)), 6) AS p_holm,
       CASE WHEN round(LEAST(1.0,
              MAX(p_raw * (m - j + 1)) OVER (ORDER BY j)), 6) <= 0.05
            THEN 1 ELSE 0 END AS rejected
FROM rk
ORDER BY brand
"""


@query("q_holm_adjust", oracle=HOLM_SQL)
def q_holm_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.join(
        F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").cast("decimal(8,2)").alias("q"),
    )
    li = li.cache()  # consumed by per AND gstat
    per = li.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("q").cast("decimal(28,2)").alias("s1"),
    )
    gstat = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("decimal(28,2)").alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(16,4)"))
        .cast("decimal(38,4)").alias("ssq"),
    )
    n, n1 = F.col("n"), F.col("n1")
    sd, s1d = F.col("s").cast("double"), F.col("s1").cast("double")
    mean1 = s1d / n1
    sigma = F.sqrt((F.col("ssq").cast("double") - sd * sd / n) / n)
    z = (mean1 - sd / n) / (sigma / F.sqrt(n1.cast("double")))
    zt = per.join(F.broadcast(gstat)).select(
        "brand", "n1",
        F.round(mean1, 6).alias("mean_qty"),
        F.round(z, 6).alias("z"),
    )
    pv = zt.select(
        "brand", "n1", "mean_qty", "z",
        F.round(erfc_sqrt2(F.abs(F.col("z"))), 9).alias("p_raw"),
    )
    w = Window.orderBy("p_raw", "brand")  # 25-row grid sort
    rk = pv.select(
        "*",
        F.row_number().over(w).alias("j"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    prefix_max = F.max(
        F.col("p_raw") * (F.col("m") - F.col("j") + 1)
    ).over(Window.orderBy("j"))
    p_holm = F.round(F.least(F.lit(1.0), prefix_max), 6)
    return rk.select(
        "brand", "n1", "mean_qty", "z", "p_raw",
        p_holm.alias("p_holm"),
        F.when(p_holm <= 0.05, 1).otherwise(0).alias("rejected"),
    ).orderBy("brand")


# -- q_gamma_moments ---------------------------------------------------
#
# Method-of-moments Gamma fit of order totals per market segment
# (shape k = μ²/σ², scale θ = σ²/μ) with the built-in adequacy
# check: a true Gamma(k,θ) has skewness 2/√k, so empirical skewness
# (width-safe exact decimal power sums — the q_jarque_bera widths)
# vs 2/√k measures how Gamma-like the spend distribution really is
# before anyone samples from the fit. Scale: one broadcast-dim
# join, one partial-aggregated scan → |segments| rows.

GAMMA_SQL = """
WITH v AS (
  SELECT c.c_mktsegment AS seg,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), m AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,2)) AS s1,
         CAST(SUM(CAST(x * x AS DECIMAL(19,4))) AS DECIMAL(38,4)) AS s2,
         CAST(SUM(CAST(CAST(x * x AS DECIMAL(19,4)) * x
                       AS DECIMAL(27,6))) AS DECIMAL(38,6)) AS s3
  FROM v GROUP BY 1
), c AS (
  SELECT seg, n,
         CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) AS m3
  FROM m
)
SELECT seg AS segment, n,
       round(mu, 6) AS mean_total,
       round(mu * mu / m2, 6) AS k_shape,
       round(m2 / mu, 6) AS theta_scale,
       round(m3 / (m2 * sqrt(m2)), 6) AS skew_empirical,
       round(2.0 / sqrt(mu * mu / m2), 6) AS skew_gamma,
       round(abs(m3 / (m2 * sqrt(m2)) - 2.0 / sqrt(mu * mu / m2)), 6)
         AS skew_gap
FROM c
WHERE m2 > 0 AND mu > 0
ORDER BY seg
"""


@query("q_gamma_moments", oracle=GAMMA_SQL)
def q_gamma_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    x = F.col("o_totalprice").cast("decimal(18,2)")
    x2 = (x * x).cast("decimal(19,4)")
    m = (
        cat.orders.join(
            F.broadcast(cat.customer.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(F.col("c_mktsegment").alias("seg"), x.alias("xv"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xv").cast("decimal(38,2)").alias("s1"),
            F.sum((F.col("xv") * F.col("xv")).cast("decimal(19,4)"))
            .cast("decimal(38,4)").alias("s2"),
            F.sum(
                ((F.col("xv") * F.col("xv")).cast("decimal(19,4)")
                 * F.col("xv")).cast("decimal(27,6)")
            ).cast("decimal(38,6)").alias("s3"),
        )
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    s2d = F.col("s2").cast("double") / n
    s3d = F.col("s3").cast("double") / n
    m2 = s2d - mu * mu
    m3 = s3d - 3.0 * mu * s2d + 2.0 * mu * mu * mu
    k = mu * mu / m2
    return (
        m.withColumn("mu", mu).withColumn("m2", m2).withColumn("m3", m3)
        .filter((F.col("m2") > 0) & (F.col("mu") > 0))
        .select(
            F.col("seg").alias("segment"), "n",
            F.round("mu", 6).alias("mean_total"),
            F.round(
                F.col("mu") * F.col("mu") / F.col("m2"), 6
            ).alias("k_shape"),
            F.round(F.col("m2") / F.col("mu"), 6).alias("theta_scale"),
            F.round(
                F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2"))), 6
            ).alias("skew_empirical"),
            F.round(
                F.lit(2.0)
                / F.sqrt(F.col("mu") * F.col("mu") / F.col("m2")), 6
            ).alias("skew_gamma"),
            F.round(
                F.abs(
                    F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
                    - F.lit(2.0)
                    / F.sqrt(F.col("mu") * F.col("mu") / F.col("m2"))
                ), 6
            ).alias("skew_gap"),
        )
        .orderBy("segment")
    )


# -- q_cvm_test --------------------------------------------------------
#
# Two-sample Cramér–von Mises test comparing the weekday vs weekend
# DAILY REVENUE distributions: T = U/(N·n·m) − (4nm−1)/(6N) with
# U = n·Σ(rᵢ−i)² + m·Σ(sⱼ−j)² over pooled ranks — the INTEGRATED
# distribution-distance companion to q_ks_test's supremum (CvM sees
# spread-out differences KS misses). Pooled and within-group ranks
# share one total order (value, then day — a deterministic tiebreak
# on the unique key, per the registry rule), so U is EXACT INTEGER;
# only the final normalization is double. α=0.05 critical value
# 0.461. Scale: one scan → |days| grid with two grid sorts → 1 row.

CVM_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CASE WHEN isodow(CAST(o_orderdate AS DATE)) >= 6
              THEN 1 ELSE 0 END AS grp,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS rev
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT grp,
         ROW_NUMBER() OVER (ORDER BY rev, day) AS r,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY rev, day) AS i
  FROM daily
), counts AS (
  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m
  FROM ranked
), u AS (
  SELECT CAST(SUM(CASE WHEN grp = 0
                       THEN (r - i) * (r - i) END) AS BIGINT) AS su_n,
         CAST(SUM(CASE WHEN grp = 1
                       THEN (r - i) * (r - i) END) AS BIGINT) AS su_m
  FROM ranked
)
SELECT c.n AS n_weekday, c.m AS n_weekend,
       CAST(c.n * u.su_n + c.m * u.su_m AS BIGINT) AS u_stat,
       round(CAST(c.n * u.su_n + c.m * u.su_m AS DOUBLE)
             / (CAST(c.n AS DOUBLE) * c.m * (c.n + c.m))
             - (4.0 * c.n * c.m - 1.0) / (6.0 * (c.n + c.m)), 6) AS t_stat,
       CAST(CASE WHEN CAST(c.n * u.su_n + c.m * u.su_m AS DOUBLE)
                      / (CAST(c.n AS DOUBLE) * c.m * (c.n + c.m))
                      - (4.0 * c.n * c.m - 1.0) / (6.0 * (c.n + c.m))
                      > 0.461
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM counts c CROSS JOIN u
"""


@query("q_cvm_test", oracle=CVM_SQL)
def q_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    day = F.col("o_orderdate").cast("date")
    iso = F.when(F.dayofweek("o_orderdate") == 1, F.lit(7)).otherwise(
        F.dayofweek("o_orderdate") - 1
    )
    daily = o.groupBy(
        day.alias("day"),
        F.when(iso >= 6, 1).otherwise(0).alias("grp"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    wp = Window.orderBy("rev", "day")  # grid sort over unique days
    wg = Window.partitionBy("grp").orderBy("rev", "day")
    ranked = daily.select(
        "grp",
        F.row_number().over(wp).alias("r"),
        F.row_number().over(wg).alias("i"),
    )
    ranked = ranked.cache()  # consumed by counts AND u
    counts = ranked.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint")
        .alias("m"),
    )
    d2 = (F.col("r") - F.col("i")) * (F.col("r") - F.col("i"))
    u = ranked.agg(
        F.sum(F.when(F.col("grp") == 0, d2)).cast("bigint").alias("su_n"),
        F.sum(F.when(F.col("grp") == 1, d2)).cast("bigint").alias("su_m"),
    )
    n, m = F.col("n"), F.col("m")
    ustat = n * F.col("su_n") + m * F.col("su_m")
    t_stat = ustat.cast("double") / (
        n.cast("double") * m * (n + m)
    ) - (4.0 * n * m - 1.0) / (6.0 * (n + m))
    return (
        counts.join(F.broadcast(u))
        .select(
            n.alias("n_weekday"),
            m.alias("n_weekend"),
            ustat.cast("bigint").alias("u_stat"),
            F.round(t_stat, 6).alias("t_stat"),
            F.when(t_stat > 0.461, 1).otherwise(0).cast("bigint")
            .alias("significant"),
        )
    )


# -- q_mantel_haenszel -------------------------------------------------
#
# Mantel–Haenszel stratified 2×2 pooling: odds ratio of (md5-parity
# group → URGENT/HIGH priority) POOLED ACROSS the 7 weekday strata —
# the epidemiology-standard way to estimate a common effect while a
# stratifier confounds (q_simpsons_detector FLAGS the reversal; MH
# produces the de-confounded estimate). OR_MH = Σ(aᵢdᵢ/nᵢ) /
# Σ(bᵢcᵢ/nᵢ), with the MH chi² from hypergeometric means/variances.
# Cell counts are exact integers; the 7-term folds round to
# DECIMAL(28,9). Scale: one scan → 7×4 contingency grid → 7 rows.

MH_SQL = """
WITH base AS (
  SELECT isodow(CAST(o_orderdate AS DATE)) AS dow,
         CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS e,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
), cells AS (
  SELECT dow,
         CAST(SUM(e * y) AS BIGINT) AS a,
         CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
         CAST(SUM((1 - e) * y) AS BIGINT) AS c,
         CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d
  FROM base GROUP BY 1
), terms AS (
  SELECT dow, a, b, c, d, a + b + c + d AS n,
         CAST(round(CAST(a AS DOUBLE) * d / (a + b + c + d), 9)
              AS DECIMAL(28,9)) AS ad_n,
         CAST(round(CAST(b AS DOUBLE) * c / (a + b + c + d), 9)
              AS DECIMAL(28,9)) AS bc_n,
         CAST(round(CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d), 9)
              AS DECIMAL(28,9)) AS ea,
         CAST(round(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
                    / (CAST(a + b + c + d AS DOUBLE)
                       * (a + b + c + d) * (a + b + c + d - 1)), 9)
              AS DECIMAL(28,9)) AS va
  FROM cells
), pooled AS (
  SELECT CAST(SUM(ad_n) AS DOUBLE) AS s_ad,
         CAST(SUM(bc_n) AS DOUBLE) AS s_bc,
         CAST(SUM(a) AS BIGINT) AS s_a,
         CAST(SUM(ea) AS DOUBLE) AS s_ea,
         CAST(SUM(va) AS DOUBLE) AS s_va
  FROM terms
)
SELECT t.dow, t.a, t.b, t.c, t.d,
       round(CASE WHEN t.b * t.c > 0
                  THEN CAST(t.a AS DOUBLE) * t.d / (t.b * t.c) END, 6)
         AS or_stratum,
       round(p.s_ad / p.s_bc, 6) AS or_mh,
       round((p.s_a - p.s_ea) * (p.s_a - p.s_ea) / p.s_va, 6) AS mh_chi2,
       CAST(CASE WHEN (p.s_a - p.s_ea) * (p.s_a - p.s_ea) / p.s_va > 3.841
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM terms t CROSS JOIN pooled p
WHERE p.s_bc > 0 AND p.s_va > 0
ORDER BY t.dow
"""


@query("q_mantel_haenszel", oracle=MH_SQL)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    iso = F.when(F.dayofweek("o_orderdate") == 1, F.lit(7)).otherwise(
        F.dayofweek("o_orderdate") - 1
    )
    e = F.when(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1) < "8", 1
    ).otherwise(0)
    y = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    cells = o.select(
        iso.cast("bigint").alias("dow"), e.alias("e"), y.alias("y")
    ).groupBy("dow").agg(
        F.sum(F.col("e") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("bigint")
        .alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = a + b + c + d
    terms = cells.select(
        "dow", "a", "b", "c", "d", n.alias("n"),
        F.round(a.cast("double") * d / n, 9).cast("decimal(28,9)")
        .alias("ad_n"),
        F.round(b.cast("double") * c / n, 9).cast("decimal(28,9)")
        .alias("bc_n"),
        F.round((a + b).cast("double") * (a + c) / n, 9)
        .cast("decimal(28,9)").alias("ea"),
        F.round(
            (a + b).cast("double") * (c + d) * (a + c) * (b + d)
            / (n.cast("double") * n * (n - 1)), 9
        ).cast("decimal(28,9)").alias("va"),
    )
    terms = terms.cache()  # consumed by pooled AND the output
    pooled = terms.agg(
        F.sum("ad_n").cast("double").alias("s_ad"),
        F.sum("bc_n").cast("double").alias("s_bc"),
        F.sum("a").cast("bigint").alias("s_a"),
        F.sum("ea").cast("double").alias("s_ea"),
        F.sum("va").cast("double").alias("s_va"),
    )
    chi2 = (F.col("s_a") - F.col("s_ea")) * (
        F.col("s_a") - F.col("s_ea")
    ) / F.col("s_va")
    return (
        terms.join(F.broadcast(pooled))
        .filter((F.col("s_bc") > 0) & (F.col("s_va") > 0))
        .select(
            "dow", "a", "b", "c", "d",
            F.round(
                F.when(
                    F.col("b") * F.col("c") > 0,
                    F.col("a").cast("double") * F.col("d")
                    / (F.col("b") * F.col("c")),
                ), 6
            ).alias("or_stratum"),
            F.round(F.col("s_ad") / F.col("s_bc"), 6).alias("or_mh"),
            F.round(chi2, 6).alias("mh_chi2"),
            F.when(chi2 > 3.841, 1).otherwise(0).cast("bigint")
            .alias("significant"),
        )
        .orderBy("dow")
    )


# -- q_cochran_q -------------------------------------------------------
#
# Cochran's Q test for k=3 related binary outcomes: did each
# customer order in 1995 / 1996 / 1997? Blocks are customers,
# treatments are years — the BINARY sibling of q_friedman_test
# (same blocked design, dichotomous response). Q = (k−1)·[k·ΣCᵢ² −
# N²] / (k·N − ΣRⱼ²) is EXACT INTEGER arithmetic end-to-end (column
# totals Cᵢ, row totals Rⱼ, grand total N), so only the final
# division is double. df = 2 → α=0.05 critical value 5.991.
# Scale: one scan → per-customer year flags → 3 rows.

COCHRAN_SQL = """
WITH flags AS (
  SELECT o_custkey AS cust,
         CAST(MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
                       THEN 1 ELSE 0 END) AS BIGINT) AS y1,
         CAST(MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                       THEN 1 ELSE 0 END) AS BIGINT) AS y2,
         CAST(MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
                       THEN 1 ELSE 0 END) AS BIGINT) AS y3
  FROM orders
  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997)
  GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(y1) AS BIGINT) AS c1,
         CAST(SUM(y2) AS BIGINT) AS c2,
         CAST(SUM(y3) AS BIGINT) AS c3,
         CAST(SUM(y1 + y2 + y3) AS BIGINT) AS nn,
         CAST(SUM((y1 + y2 + y3) * (y1 + y2 + y3)) AS BIGINT) AS sr2
  FROM flags
), q AS (
  SELECT n_blocks, c1, c2, c3, nn,
         2.0 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - nn * nn)
           / (3 * nn - sr2) AS qstat
  FROM tot WHERE 3 * nn - sr2 > 0
)
SELECT y.yr AS year, CASE y.yr WHEN 1995 THEN q.c1
                               WHEN 1996 THEN q.c2 ELSE q.c3 END AS c_year,
       q.n_blocks,
       round(q.qstat, 6) AS q_stat,
       CAST(2 AS BIGINT) AS df,
       CAST(CASE WHEN q.qstat > 5.991 THEN 1 ELSE 0 END AS BIGINT)
         AS significant
FROM (VALUES (CAST(1995 AS BIGINT)), (CAST(1996 AS BIGINT)),
             (CAST(1997 AS BIGINT))) y(yr)
CROSS JOIN q
ORDER BY y.yr
"""


@query("q_cochran_q", oracle=COCHRAN_SQL)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    yr = F.year("o_orderdate")
    flags = (
        o.filter(yr.isin(1995, 1996, 1997))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            *[
                F.max(F.when(yr == y, 1).otherwise(0)).cast("bigint")
                .alias(f"y{i}")
                for i, y in enumerate((1995, 1996, 1997), start=1)
            ]
        )
    )
    r = F.col("y1") + F.col("y2") + F.col("y3")
    tot = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("y1").cast("bigint").alias("c1"),
        F.sum("y2").cast("bigint").alias("c2"),
        F.sum("y3").cast("bigint").alias("c3"),
        F.sum(r).cast("bigint").alias("nn"),
        F.sum(r * r).cast("bigint").alias("sr2"),
    )
    qstat = (
        F.lit(2.0)
        * (
            3 * (F.col("c1") * F.col("c1") + F.col("c2") * F.col("c2")
                 + F.col("c3") * F.col("c3"))
            - F.col("nn") * F.col("nn")
        )
        / (3 * F.col("nn") - F.col("sr2"))
    )
    q = (
        tot.filter(3 * F.col("nn") - F.col("sr2") > 0)
        .select("n_blocks", "c1", "c2", "c3", qstat.alias("qstat"))
    )
    years = spark.createDataFrame(
        [(1995,), (1996,), (1997,)], "yr bigint"
    )
    return (
        years.join(F.broadcast(q))
        .select(
            F.col("yr").alias("year"),
            F.when(F.col("yr") == 1995, F.col("c1"))
            .when(F.col("yr") == 1996, F.col("c2"))
            .otherwise(F.col("c3")).alias("c_year"),
            "n_blocks",
            F.round("qstat", 6).alias("q_stat"),
            F.lit(2).cast("bigint").alias("df"),
            F.when(F.col("qstat") > 5.991, 1).otherwise(0).cast("bigint")
            .alias("significant"),
        )
        .orderBy("year")
    )


# -- q_icc_reliability -------------------------------------------------
#
# One-way random-effects intraclass correlation ICC(1,1) of account
# balances within nations: what share of balance variance is
# BETWEEN-nation (the cluster effect that makes iid SEs wrong and
# q_jackknife necessary)? From the exact per-nation decimal moment
# block: MSB/MSW via SSB = Σnᵍ(mᵍ−μ)² (decimal-rounded terms, the
# q_anova_oneway cancellation-safe form), unbalanced k̄ = (n −
# Σnᵍ²/n)/(G−1), ICC = (MSB−MSW)/(MSB+(k̄−1)·MSW). Scale: one
# partial-aggregated scan → 25-row grid → 1 row.

ICC_SQL = """
WITH per AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS s_g,
         CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2))
                       * CAST(c_acctbal AS DECIMAL(18,2))
                       AS DECIMAL(37,4))) AS DECIMAL(38,4)) AS ss_g
  FROM customer GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(s_g) AS DECIMAL(38,2)) AS s,
         CAST(SUM(ss_g) AS DECIMAL(38,4)) AS ss,
         CAST(COUNT(*) AS BIGINT) AS g,
         CAST(SUM(n_g * n_g) AS BIGINT) AS sn2
  FROM per
), ssb AS (
  SELECT CAST(SUM(CAST(round(
           n_g * (CAST(s_g AS DOUBLE) / n_g - CAST(t.s AS DOUBLE) / t.n)
               * (CAST(s_g AS DOUBLE) / n_g - CAST(t.s AS DOUBLE) / t.n),
           6) AS DECIMAL(28,6))) AS DOUBLE) AS ssb
  FROM per CROSS JOIN tot t
), parts AS (
  SELECT t.g, t.n,
         b.ssb / (t.g - 1) AS msb,
         (CAST(t.ss AS DOUBLE)
          - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / t.n
          - b.ssb) / (t.n - t.g) AS msw,
         (t.n - CAST(t.sn2 AS DOUBLE) / t.n) / (t.g - 1) AS kbar
  FROM tot t CROSS JOIN ssb b
)
SELECT g AS n_groups, n AS n_obs,
       round(kbar, 6) AS kbar,
       round(msb / msw, 6) AS f_stat,
       round((msb - msw) / (msb + (kbar - 1.0) * msw), 6) AS icc
FROM parts
WHERE msw > 0 AND msb + (kbar - 1.0) * msw > 0
"""


@query("q_icc_reliability", oracle=ICC_SQL)
def q_icc_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    per = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(bal).cast("decimal(28,2)").alias("s_g"),
        F.sum((bal * bal).cast("decimal(37,4)")).cast("decimal(38,4)")
        .alias("ss_g"),
    )
    per = per.cache()  # consumed by tot AND ssb
    tot = per.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("decimal(38,2)").alias("s"),
        F.sum("ss_g").cast("decimal(38,4)").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum(F.col("n_g") * F.col("n_g")).cast("bigint").alias("sn2"),
    )
    dev = F.col("s_g").cast("double") / F.col("n_g") - F.col("s").cast(
        "double"
    ) / F.col("n")
    ssb = per.join(F.broadcast(tot)).agg(
        F.sum(
            F.round(F.col("n_g") * dev * dev, 6).cast("decimal(28,6)")
        ).cast("double").alias("ssb")
    )
    g, nn = F.col("g"), F.col("n")
    msb = F.col("ssb") / (g - 1)
    msw = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / nn
        - F.col("ssb")
    ) / (nn - g)
    kbar = (nn - F.col("sn2").cast("double") / nn) / (g - 1)
    return (
        tot.join(F.broadcast(ssb))
        .withColumn("msb", msb).withColumn("msw", msw)
        .withColumn("kbar", kbar)
        .filter(
            (F.col("msw") > 0)
            & (F.col("msb") + (F.col("kbar") - 1.0) * F.col("msw") > 0)
        )
        .select(
            g.alias("n_groups"),
            nn.alias("n_obs"),
            F.round("kbar", 6).alias("kbar"),
            F.round(F.col("msb") / F.col("msw"), 6).alias("f_stat"),
            F.round(
                (F.col("msb") - F.col("msw"))
                / (F.col("msb") + (F.col("kbar") - 1.0) * F.col("msw")), 6
            ).alias("icc"),
        )
    )


# -- q_zero_inflation --------------------------------------------------
#
# Zero-inflation score test on per-customer 1995 order counts
# (customers with no 1995 orders INCLUDED as exact zeros via the
# left join): does the count distribution carry more zeros than
# Poisson(λ̂) predicts — the "should I model a separate never-buyer
# class" gate that decides between Poisson and ZIP/hurdle models
# (q_overdispersion checks the variance, THIS checks the zeros —
# they fail independently). z = (n₀ − n·e^−λ̂)/√(n·e^−λ̂(1−e^−λ̂));
# counts exact, one double chain. Scale: one left-join scan → 1 row.

ZIP_SQL = """
WITH counts AS (
  SELECT c.c_custkey,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS y
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey
   AND year(CAST(o.o_orderdate AS DATE)) = 1995
  GROUP BY 1
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS total,
         CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
  FROM counts
), s AS (
  SELECT n, n0, CAST(total AS DOUBLE) / n AS lam,
         n * exp(-(CAST(total AS DOUBLE) / n)) AS e0
  FROM agg
)
SELECT n AS n_customers, n0 AS n_zeros,
       round(lam, 6) AS lambda_hat,
       round(e0, 6) AS expected_zeros,
       round(CAST(n0 AS DOUBLE) / e0, 6) AS zero_ratio,
       round((n0 - e0) / sqrt(e0 * (1.0 - e0 / n)), 6) AS z,
       CAST(CASE WHEN (n0 - e0) / sqrt(e0 * (1.0 - e0 / n)) > 1.645
                 THEN 1 ELSE 0 END AS BIGINT) AS zero_inflated
FROM s
WHERE e0 > 0 AND e0 < n
"""


@query("q_zero_inflation", oracle=ZIP_SQL)
def q_zero_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    o95 = cat.orders.filter(F.year("o_orderdate") == 1995).select(
        "o_custkey", "o_orderkey"
    )
    counts = (
        cat.customer.join(
            o95, F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("y"))
    )
    agg = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("total"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n0"),
    )
    lam = F.col("total").cast("double") / F.col("n")
    e0 = F.col("n") * F.exp(-lam)
    z = (F.col("n0") - e0) / F.sqrt(e0 * (F.lit(1.0) - e0 / F.col("n")))
    return (
        agg.withColumn("lam", lam).withColumn("e0", e0)
        .filter((F.col("e0") > 0) & (F.col("e0") < F.col("n")))
        .select(
            F.col("n").alias("n_customers"),
            F.col("n0").alias("n_zeros"),
            F.round("lam", 6).alias("lambda_hat"),
            F.round("e0", 6).alias("expected_zeros"),
            F.round(F.col("n0").cast("double") / F.col("e0"), 6)
            .alias("zero_ratio"),
            F.round(z, 6).alias("z"),
            F.when(z > 1.645, 1).otherwise(0).cast("bigint")
            .alias("zero_inflated"),
        )
    )


# -- q_mahalanobis -----------------------------------------------------
#
# 2-D Mahalanobis outlier gate on (quantity, extended price) per
# line item: d² = Δ'Σ⁻¹Δ with the 2×2 covariance inverted in closed
# form from exact decimal moments — the MULTIVARIATE upgrade of
# q_mad_outliers/q_anomaly_zscore (a line can be normal in each
# margin yet impossible jointly, e.g. huge price at qty 1). Flags
# d² > 13.816 (χ²₂ at 0.999); reports per-brand outlier counts and
# rates. Per-row d² is one identical double chain. Scale: one
# broadcast-dim join + two partial-aggregated scans → 25 rows.

MAHALANOBIS_SQL = """
WITH li AS (
  SELECT p.p_brand AS brand,
         CAST(l.l_quantity AS DECIMAL(8,2)) AS x,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
    CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(26,4))) AS DECIMAL(38,4)) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(16,4))) AS DECIMAL(38,4)) AS sxx,
    CAST(SUM(CAST(y * y AS DECIMAL(36,4))) AS DECIMAL(38,4)) AS syy
  FROM li
), cov AS (
  SELECT CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
         CAST(sxx AS DOUBLE) / n
           - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vx,
         CAST(syy AS DOUBLE) / n
           - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vy,
         CAST(sxy AS DOUBLE) / n
           - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS c
  FROM m
), scored AS (
  SELECT li.brand,
         ((CAST(li.x AS DOUBLE) - cv.mx) * (CAST(li.x AS DOUBLE) - cv.mx)
            * cv.vy
          - 2.0 * (CAST(li.x AS DOUBLE) - cv.mx)
            * (CAST(li.y AS DOUBLE) - cv.my) * cv.c
          + (CAST(li.y AS DOUBLE) - cv.my)
            * (CAST(li.y AS DOUBLE) - cv.my) * cv.vx)
         / (cv.vx * cv.vy - cv.c * cv.c) AS d2
  FROM li CROSS JOIN cov cv
  WHERE cv.vx * cv.vy - cv.c * cv.c > 0
)
SELECT brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN d2 > 13.816 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(CAST(SUM(CASE WHEN d2 > 13.816 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS outlier_rate,
       round(CAST(SUM(CAST(round(d2, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_d2
FROM scored GROUP BY 1
ORDER BY brand
"""


@query("q_mahalanobis", oracle=MAHALANOBIS_SQL)
def q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    # spread() the single-task scan before the decimal moment fold and
    # the cached scoring pass (r11, guide §2.5; A/B in OPTIMIZATION_r11.md)
    li = spread(
        cat.lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
    ).join(
        F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").cast("decimal(8,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )
    li = li.cache()  # consumed by the moment agg AND the scoring pass
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(28,2)").alias("sx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(26,4)"))
        .cast("decimal(38,4)").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(16,4)"))
        .cast("decimal(38,4)").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(36,4)"))
        .cast("decimal(38,4)").alias("syy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    cov = m.select(
        mx.alias("mx"), my.alias("my"),
        (F.col("sxx").cast("double") / n - mx * mx).alias("vx"),
        (F.col("syy").cast("double") / n - my * my).alias("vy"),
        (F.col("sxy").cast("double") / n - mx * my).alias("c"),
    )
    det = F.col("vx") * F.col("vy") - F.col("c") * F.col("c")
    dx = F.col("x").cast("double") - F.col("mx")
    dy = F.col("y").cast("double") - F.col("my")
    d2 = (
        dx * dx * F.col("vy") - 2.0 * dx * dy * F.col("c")
        + dy * dy * F.col("vx")
    ) / det
    scored = (
        li.join(F.broadcast(cov))
        .filter(det > 0)
        .select("brand", d2.alias("d2"))
    )
    return (
        scored.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("d2") > 13.816, 1).otherwise(0))
            .cast("bigint").alias("n_outliers"),
            F.round(
                F.sum(F.when(F.col("d2") > 13.816, 1).otherwise(0))
                .cast("double") / F.count(F.lit(1)), 6
            ).alias("outlier_rate"),
            F.round(
                F.sum(F.round("d2", 6).cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)), 6
            ).alias("mean_d2"),
        )
        .orderBy("brand")
    )


# -- q_hotelling_t2 ----------------------------------------------------
#
# Two-sample Hotelling T² comparing the (quantity, price) MEAN
# VECTOR between the md5-parity groups: T² = (n₁n₂/n)·Δ'S⁻¹Δ with
# the pooled 2×2 covariance inverted in closed form — the
# multivariate "did ANY dimension move" test that two univariate
# z-tests with a multiple-comparison patch under-power (it sees
# correlated shifts). Exact per-group decimal moments, one double
# chain, large-n critical value χ²₂ = 5.991. Scale: one
# partial-aggregated scan → 2-row group grid → 1 row.

HOTELLING_SQL = """
WITH li AS (
  SELECT CASE WHEN substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < '8'
              THEN 0 ELSE 1 END AS grp,
         CAST(l_quantity AS DECIMAL(8,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
  FROM lineitem
), m AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
    CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(26,4))) AS DECIMAL(38,4)) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(16,4))) AS DECIMAL(38,4)) AS sxx,
    CAST(SUM(CAST(y * y AS DECIMAL(36,4))) AS DECIMAL(38,4)) AS syy
  FROM li GROUP BY 1
), st AS (
  SELECT grp, n,
         CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
         CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS cxy
  FROM m
), wide AS (
  SELECT
    MIN(CASE WHEN grp = 0 THEN n END) AS n1,
    MIN(CASE WHEN grp = 1 THEN n END) AS n2,
    MIN(CASE WHEN grp = 0 THEN mx END) AS mx1,
    MIN(CASE WHEN grp = 1 THEN mx END) AS mx2,
    MIN(CASE WHEN grp = 0 THEN my END) AS my1,
    MIN(CASE WHEN grp = 1 THEN my END) AS my2,
    SUM(cxx) AS pxx, SUM(cyy) AS pyy, SUM(cxy) AS pxy
  FROM st
), t2 AS (
  SELECT n1, n2,
         mx2 - mx1 AS dx, my2 - my1 AS dy,
         pxx / (n1 + n2 - 2) AS sxx,
         pyy / (n1 + n2 - 2) AS syy,
         pxy / (n1 + n2 - 2) AS sxy
  FROM wide WHERE n1 IS NOT NULL AND n2 IS NOT NULL
)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
       round(dx, 6) AS diff_qty,
       round(dy, 6) AS diff_price,
       round(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)
             * (dx * dx * syy - 2.0 * dx * dy * sxy + dy * dy * sxx)
             / (sxx * syy - sxy * sxy), 6) AS t2_stat,
       CAST(CASE WHEN CAST(n1 AS DOUBLE) * n2 / (n1 + n2)
                      * (dx * dx * syy - 2.0 * dx * dy * sxy
                         + dy * dy * sxx)
                      / (sxx * syy - sxy * sxy) > 5.991
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM t2
WHERE sxx * syy - sxy * sxy > 0
"""


@query("q_hotelling_t2", oracle=HOTELLING_SQL)
def q_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem.select(
        F.when(
            F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1)
            < "8", 0
        ).otherwise(1).alias("grp"),
        F.col("l_quantity").cast("decimal(8,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )
    m = li.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(28,2)").alias("sx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(26,4)"))
        .cast("decimal(38,4)").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(16,4)"))
        .cast("decimal(38,4)").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(36,4)"))
        .cast("decimal(38,4)").alias("syy"),
    )
    n = F.col("n")
    st = m.select(
        "grp", "n",
        (F.col("sx").cast("double") / n).alias("mx"),
        (F.col("sy").cast("double") / n).alias("my"),
        (F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx") / n).alias("cxx"),
        (F.col("syy").cast("double")
         - F.col("sy").cast("double") * F.col("sy") / n).alias("cyy"),
        (F.col("sxy").cast("double")
         - F.col("sx").cast("double") * F.col("sy") / n).alias("cxy"),
    )
    wide = st.agg(
        F.min(F.when(F.col("grp") == 0, F.col("n"))).alias("n1"),
        F.min(F.when(F.col("grp") == 1, F.col("n"))).alias("n2"),
        F.min(F.when(F.col("grp") == 0, F.col("mx"))).alias("mx1"),
        F.min(F.when(F.col("grp") == 1, F.col("mx"))).alias("mx2"),
        F.min(F.when(F.col("grp") == 0, F.col("my"))).alias("my1"),
        F.min(F.when(F.col("grp") == 1, F.col("my"))).alias("my2"),
        F.sum("cxx").alias("pxx"), F.sum("cyy").alias("pyy"),
        F.sum("cxy").alias("pxy"),
    )
    dof = F.col("n1") + F.col("n2") - 2
    t2 = wide.filter(
        F.col("n1").isNotNull() & F.col("n2").isNotNull()
    ).select(
        "n1", "n2",
        (F.col("mx2") - F.col("mx1")).alias("dx"),
        (F.col("my2") - F.col("my1")).alias("dy"),
        (F.col("pxx") / dof).alias("sxx"),
        (F.col("pyy") / dof).alias("syy"),
        (F.col("pxy") / dof).alias("sxy"),
    )
    det = F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy")
    stat = (
        F.col("n1").cast("double") * F.col("n2")
        / (F.col("n1") + F.col("n2"))
        * (
            F.col("dx") * F.col("dx") * F.col("syy")
            - 2.0 * F.col("dx") * F.col("dy") * F.col("sxy")
            + F.col("dy") * F.col("dy") * F.col("sxx")
        ) / det
    )
    return (
        t2.filter(det > 0)
        .select(
            F.col("n1").cast("bigint").alias("n_a"),
            F.col("n2").cast("bigint").alias("n_b"),
            F.round("dx", 6).alias("diff_qty"),
            F.round("dy", 6).alias("diff_price"),
            F.round(stat, 6).alias("t2_stat"),
            F.when(stat > 5.991, 1).otherwise(0).cast("bigint")
            .alias("significant"),
        )
    )


# -- q_kde_density -----------------------------------------------------
#
# Gaussian kernel density estimate of the order-value distribution
# on a fixed 32-point grid with the Silverman rule-of-thumb
# bandwidth h = 1.06·σ̂·n^(−1/5) — the smooth distribution view
# where q_histogram gives bars and q_quantile_sketch gives ranks
# (multimodality shows up here first; cf. q_bimodality's
# coefficient). σ̂ comes from exact DECIMAL moments; the grid is an
# exact span split; each kernel term exp(−u²/2)/√(2π) is an
# identical double 12-rounded into exact per-gridpoint folds.
# Scale: the n×32 fan-out is map-side (broadcast 1-row stats +
# 32-row grid), partial-aggregated straight down to 32 cells — no
# data-sized shuffle at any point.

KDE_SQL = """
WITH x AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x
  FROM orders
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS lo,
         CAST(MAX(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS hi,
         CAST(SUM(CAST(x AS DECIMAL(28,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(round(x * x, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s2
  FROM x
), bw AS (
  SELECT n, lo, hi,
         1.06 * sqrt(s2 / n - (s1 / n) * (s1 / n))
              * power(CAST(n AS DOUBLE), -0.2) AS h
  FROM st WHERE s2 / n - (s1 / n) * (s1 / n) > 0
), grid AS (
  SELECT r.range AS j,
         bw.lo + r.range * (bw.hi - bw.lo) / 31.0 AS g,
         bw.n, bw.h
  FROM bw, range(0, 32) r
), terms AS (
  SELECT g.j, g.g,
         CAST(round(exp(-0.5 * ((x.x - g.g) / g.h) * ((x.x - g.g) / g.h))
                    / sqrt(2.0 * pi()) / (g.n * g.h), 12)
              AS DECIMAL(28,12)) AS t
  FROM x CROSS JOIN grid g
)
SELECT CAST(j AS BIGINT) AS grid_no, round(g, 2) AS x_grid,
       round(CAST(SUM(t) AS DOUBLE), 9) AS density
FROM terms GROUP BY 1, 2 ORDER BY 1
"""


@query("q_kde_density", oracle=KDE_SQL)
def q_kde_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    o = Catalog(spark, sf_dir).orders
    x = o.select(
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("x")
    )
    # Single-file scan = ONE input partition: the n×32 kernel fan-out
    # (with a per-term BigDecimal rounding) would run on one core.
    # spread() is a no-op on an already-wide cluster scan.
    x = spread(x).cache()  # stats fold AND kernel fan-out
    st = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min(F.col("x").cast("decimal(18,2)")).cast("double").alias("lo"),
        F.max(F.col("x").cast("decimal(18,2)")).cast("double").alias("hi"),
        F.sum(F.col("x").cast("decimal(28,2)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("x") * F.col("x"), 4).cast("decimal(38,4)"))
        .cast("double").alias("s2"),
    )
    n = F.col("n")
    var = F.col("s2") / n - (F.col("s1") / n) * (F.col("s1") / n)
    bw = st.filter(var > 0).select(
        "n", "lo", "hi",
        (1.06 * F.sqrt(var) * F.pow(n.cast("double"), -0.2)).alias("h"),
    )
    spark_sess = o.sparkSession
    grid = (
        spark_sess.range(0, 32)
        .select(F.col("id").alias("j"))
        .join(F.broadcast(bw))
        .select(
            "j",
            (
                F.col("lo") + F.col("j") * (F.col("hi") - F.col("lo")) / 31.0
            ).alias("g"),
            "n", "h",
        )
    )
    u = (F.col("x") - F.col("g")) / F.col("h")
    terms = x.crossJoin(F.broadcast(grid)).select(
        "j", "g",
        F.round(
            F.exp(-0.5 * u * u) / F.sqrt(F.lit(2.0 * math.pi))
            / (F.col("n") * F.col("h")),
            12,
        ).cast("decimal(28,12)").alias("t"),
    )
    return (
        terms.groupBy("j", "g")
        .agg(F.round(F.sum("t").cast("double"), 9).alias("density"))
        .select(
            F.col("j").cast("bigint").alias("grid_no"),
            F.round("g", 2).alias("x_grid"),
            "density",
        )
        .orderBy("grid_no")
    )


# -- q_fleiss_kappa ----------------------------------------------------
#
# Fleiss' kappa agreement among THREE deterministic "raters" of
# order importance (priority rule, price rule, weekday rule) — the
# multi-rater generalization q_cohens_kappa (2 raters) cannot
# handle: per order k = # positive votes ∈ {0..3}, per-item
# agreement P_i = [k(k−1) + (3−k)(2−k)]/6, chance agreement from
# the pooled positive share. All numbers are exact integer-count
# ratios folded through the 4-cell k histogram — no per-row doubles
# at all until the final κ chain. Scale: one fact scan partial-
# aggregated to 4 cells.

FLEISS_SQL = """
WITH votes AS (
  SELECT (CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END)
       + (CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) >= 150000
               THEN 1 ELSE 0 END)
       + (CASE WHEN isodow(CAST(o_orderdate AS DATE)) <= 3
               THEN 1 ELSE 0 END) AS k
  FROM orders
), hist AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM votes GROUP BY 1
), agg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * k) AS BIGINT) AS pos,
         CAST(SUM(c * (k * (k - 1) + (3 - k) * (2 - k))) AS BIGINT) AS agree6
  FROM hist
)
SELECT n AS n_items,
       CAST((SELECT COALESCE(MAX(c), 0) FROM hist WHERE k = 0) AS BIGINT)
         AS n_k0,
       CAST((SELECT COALESCE(MAX(c), 0) FROM hist WHERE k = 1) AS BIGINT)
         AS n_k1,
       CAST((SELECT COALESCE(MAX(c), 0) FROM hist WHERE k = 2) AS BIGINT)
         AS n_k2,
       CAST((SELECT COALESCE(MAX(c), 0) FROM hist WHERE k = 3) AS BIGINT)
         AS n_k3,
       round(CAST(pos AS DOUBLE) / (3 * n), 6) AS p_positive,
       round(CAST(agree6 AS DOUBLE) / (6 * n), 6) AS p_bar,
       round((CAST(agree6 AS DOUBLE) / (6 * n)
              - ((CAST(pos AS DOUBLE) / (3 * n))
                 * (CAST(pos AS DOUBLE) / (3 * n))
                 + (1.0 - CAST(pos AS DOUBLE) / (3 * n))
                 * (1.0 - CAST(pos AS DOUBLE) / (3 * n))))
             / (1.0 - ((CAST(pos AS DOUBLE) / (3 * n))
                 * (CAST(pos AS DOUBLE) / (3 * n))
                 + (1.0 - CAST(pos AS DOUBLE) / (3 * n))
                 * (1.0 - CAST(pos AS DOUBLE) / (3 * n)))), 6)
         AS fleiss_kappa
FROM agg
"""


@query("q_fleiss_kappa", oracle=FLEISS_SQL)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    k = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        + F.when(F.col("o_totalprice").cast("decimal(18,2)") >= 150000, 1)
        .otherwise(0)
        + F.when(F.dayofweek(F.to_date("o_orderdate")).isin(2, 3, 4), 1)
        .otherwise(0)
    )
    hist = o.select(k.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    hist = hist.cache()  # consumed by the agg fold AND the 4 cell lookups
    agg = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("k")).cast("bigint").alias("pos"),
        F.sum(
            F.col("c")
            * (
                F.col("k") * (F.col("k") - 1)
                + (3 - F.col("k")) * (2 - F.col("k"))
            )
        ).cast("bigint").alias("agree6"),
    )

    def cell(kv: int, name: str) -> DataFrame:
        return hist.filter(F.col("k") == kv).agg(
            F.coalesce(F.max("c"), F.lit(0)).cast("bigint").alias(name)
        )

    p1 = F.col("pos").cast("double") / (3 * F.col("n"))
    pe = p1 * p1 + (1.0 - p1) * (1.0 - p1)
    pbar = F.col("agree6").cast("double") / (6 * F.col("n"))
    return (
        agg.join(F.broadcast(cell(0, "n_k0")))
        .join(F.broadcast(cell(1, "n_k1")))
        .join(F.broadcast(cell(2, "n_k2")))
        .join(F.broadcast(cell(3, "n_k3")))
        .select(
            F.col("n").alias("n_items"),
            "n_k0", "n_k1", "n_k2", "n_k3",
            F.round(p1, 6).alias("p_positive"),
            F.round(pbar, 6).alias("p_bar"),
            F.round((pbar - pe) / (1.0 - pe), 6).alias("fleiss_kappa"),
        )
    )


# -- q_gumbel_fit ------------------------------------------------------
#
# Gumbel extreme-value fit of MONTHLY MAXIMA of daily revenue by
# the method of moments (β̂ = s√6/π, μ̂ = m̄ − γβ̂ with the
# Euler–Mascheroni literal), plus 12- and 120-month return levels
# x_T = μ − β·ln(−ln(1−1/T)) — the capacity-planning question
# ("what daily peak should we provision for?") that q_var_cvar's
# in-sample tail and q_hill_tail_index's power-law exponent don't
# answer for block maxima. Daily sums are exact decimals; the
# ~|months| maxima grid folds through 9-rounded decimal moments;
# everything after is one double chain. Scale: facts collapse to
# the day grid, then the month grid; the fit is a 1-row fold.

GUMBEL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
), mx AS (
  SELECT date_trunc('month', d) AS m,
         CAST(MAX(rev) AS DOUBLE) AS x
  FROM daily GROUP BY 1
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(round(x, 2) AS DECIMAL(28,2))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(round(x * x, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s2
  FROM mx
), fit AS (
  SELECT n,
         s1 / n AS mean_max,
         sqrt((s2 - s1 * s1 / n) / (n - 1)) * sqrt(6.0) / pi() AS beta
  FROM mom WHERE n > 2 AND s2 - s1 * s1 / n > 0
)
SELECT n AS n_months,
       round(mean_max, 2) AS mean_monthly_max,
       round(beta, 4) AS beta_scale,
       round(mean_max - 0.5772156649015329 * beta, 2) AS mu_location,
       round((mean_max - 0.5772156649015329 * beta)
             - beta * ln(-ln(1.0 - 1.0 / 12.0)), 2) AS return_level_12m,
       round((mean_max - 0.5772156649015329 * beta)
             - beta * ln(-ln(1.0 - 1.0 / 120.0)), 2) AS return_level_120m
FROM fit
"""


@query("q_gumbel_fit", oracle=GUMBEL_SQL)
def q_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    o = Catalog(spark, sf_dir).orders
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    mx = daily.groupBy(F.date_trunc("month", "d").alias("m")).agg(
        F.max("rev").cast("double").alias("x")
    )
    mom = mx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("x", 2).cast("decimal(28,2)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("x") * F.col("x"), 4).cast("decimal(38,4)"))
        .cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    ss = s2 - s1 * s1 / n
    fit = mom.filter((n > 2) & (ss > 0)).select(
        "n",
        (s1 / n).alias("mean_max"),
        (
            F.sqrt(ss / (n - 1)) * F.sqrt(F.lit(6.0)) / F.lit(math.pi)
        ).alias("beta"),
    )
    gamma = 0.5772156649015329
    mu = F.col("mean_max") - gamma * F.col("beta")
    return fit.select(
        F.col("n").alias("n_months"),
        F.round("mean_max", 2).alias("mean_monthly_max"),
        F.round("beta", 4).alias("beta_scale"),
        F.round(mu, 2).alias("mu_location"),
        F.round(
            mu - F.col("beta") * F.log(-F.log(F.lit(1.0 - 1.0 / 12.0))), 2
        ).alias("return_level_12m"),
        F.round(
            mu - F.col("beta") * F.log(-F.log(F.lit(1.0 - 1.0 / 120.0))), 2
        ).alias("return_level_120m"),
    )
